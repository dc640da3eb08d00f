package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic TPC-H-shaped tables, written once per checkout and
  * reused by every run. The shape follows the repository's sf fixtures
  * (same table and column names and types, same row counts per scale
  * factor, Q10's date window selecting a few % of orders, a third of
  * lineitems flagged 'R'), with one deliberate difference: every row
  * has a unique natural key ((l_orderkey, l_linenumber) for lineitem),
  * so a streamed delete names exactly one row and the survivor tables
  * of the correctness check are an anti-join on keys.
  *
  * The tables do not depend on the run seed: the seed picks what each
  * workload deletes or toggles, the data stays fixed, so runs differ
  * only in the workload's own inputs. */
object DataGen {
  /** Part of the cache directory name: bump it when the generator's
    * output changes, so a checkout never reuses stale tables. */
  private val Version = 1

  /** The tables at scale factor `sf` under `root`, generated on first
    * use (the only time `spark` is called). */
  def ensure(spark: () => SparkSession, root: Path, sf: Double): Path = {
    val dir = root.resolve(s"tpch-v$Version-sf$sf")
    if (!Files.exists(dir.resolve("_READY"))) {
      val tmp = root.resolve(s"${dir.getFileName}.tmp-${ProcessHandle.current().pid()}")
      write(spark(), tmp, sf)
      Files.createFile(tmp.resolve("_READY"))
      // another run may have won the race; its tables are identical
      try Files.move(tmp, dir)
      catch { case _: java.nio.file.FileSystemException if Files.exists(dir.resolve("_READY")) => () }
      Fs.deleteTree(tmp)
    }
    dir
  }

  /** Uniform integer in [0, n) from a hash of the salt and the keys. */
  private def rnd(salt: Int, n: Long, keys: Column*): Column =
    pmod(xxhash64(lit(salt) +: keys: _*), lit(n))

  private def pick(salt: Int, values: Seq[String], keys: Column*): Column =
    element_at(array(values.map(lit): _*), rnd(salt, values.size.toLong, keys: _*).cast("int") + 1)

  private def money(salt: Int, lo: Double, hi: Double, keys: Column*): Column =
    round(lit(lo) + rnd(salt, ((hi - lo) * 100).toLong, keys: _*) / 100.0, 2)

  private def date(salt: Int, days: Int, keys: Column*): Column =
    date_add(lit("1992-01-01").cast("date"), rnd(salt, days.toLong, keys: _*).cast("int"))
      .cast("timestamp")

  private def write(spark: SparkSession, dir: Path, sf: Double): Unit = {
    val nCust = (150000 * sf).toLong.max(1)
    val nSupp = (10000 * sf).toLong.max(1)
    val nPart = (200000 * sf).toLong.max(1)
    val nOrders = (1500000 * sf).toLong.max(1)
    val id = col("id")
    def save(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.parquet(dir.resolve(s"$name.parquet").toString)

    save("region", spark.range(5).select(id.cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        id.cast("int") + 1).as("r_name")))
    save("nation", spark.range(25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id).as("n_name"), pmod(id, lit(5L)).cast("int").as("n_regionkey")))
    save("customer", spark.range(nCust).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      rnd(1, 25, id).cast("int").as("c_nationkey"),
      money(2, -999.99, 9999.99, id).as("c_acctbal"),
      pick(3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"), id)
        .as("c_mktsegment")))
    save("supplier", spark.range(nSupp).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      rnd(4, 25, id).cast("int").as("s_nationkey"),
      money(5, -999.99, 9999.99, id).as("s_acctbal")))
    save("part", spark.range(nPart).select(id.as("p_partkey"),
      concat(pick(6, Seq("large", "hot", "small", "dark", "pale"), id), lit(" "),
        pick(7, Seq("ring", "bolt", "gear", "nut", "pipe"), id)).as("p_name"),
      concat(lit("Brand#"), rnd(8, 25, id) + 1).as("p_brand"),
      pick(9, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"), id).as("p_type"),
      (rnd(10, 50, id) + 1).cast("int").as("p_size"),
      money(11, 900.0, 2000.0, id).as("p_retailprice")))
    save("orders", spark.range(nOrders).select(id.as("o_orderkey"),
      rnd(12, nCust, id).as("o_custkey"),
      pick(13, Seq("F", "O", "P"), id).as("o_orderstatus"),
      money(14, 1000.0, 450000.0, id).as("o_totalprice"),
      date(15, 2405, id).as("o_orderdate"),
      pick(16, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), id)
        .as("o_orderpriority")))
    // 1..7 lines per order (4 on average: 6,000,000 * sf lineitems)
    val lines = spark.range(nOrders).select(id.as("l_orderkey"),
      explode(sequence(lit(1), rnd(17, 7, id).cast("int") + 1)).as("l_linenumber"))
    val k = Seq(col("l_orderkey"), col("l_linenumber"))
    save("lineitem", lines.select(col("l_orderkey"),
      rnd(18, nPart, k: _*).as("l_partkey"),
      rnd(19, nSupp, k: _*).as("l_suppkey"),
      col("l_linenumber"),
      (rnd(20, 50, k: _*) + 1).cast("double").as("l_quantity"),
      money(21, 900.0, 105000.0, k: _*).as("l_extendedprice"),
      (rnd(22, 11, k: _*) / 100.0).as("l_discount"),
      (rnd(23, 9, k: _*) / 100.0).as("l_tax"),
      pick(24, Seq("A", "N", "R"), k: _*).as("l_returnflag"),
      pick(25, Seq("F", "O"), k: _*).as("l_linestatus"),
      date(26, 2527, k: _*).as("l_shipdate")))
    // The engine's loaders expect these relations to exist; no workload
    // reads them, so one row each is enough.
    save("events", spark.range(1).select(id.as("event_id"),
      lit("1996-01-01").cast("timestamp").as("ts"), id.as("user_id"),
      lit("view").as("event_type"), lit(1.0).as("value"), lit("").as("props")))
    save("documents", spark.range(1).select(id.as("doc_id"), lit("a").as("text"),
      lit("en").as("lang"), lit("stub").as("source"), lit(1L).as("n_chars")))
    save("embeddings", spark.range(1).select(id.as("vec_id"),
      array(lit(0.0f)).as("embedding"), lit(0).as("label")))
  }
}
