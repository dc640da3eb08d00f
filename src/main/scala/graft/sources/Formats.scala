package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{GraftQuery, Tables}
import graft.GraftQuery.sql
import graft.TempDirs.tempDir

/** Columnar format round trips beyond parquet — the engine's sink/
  * source surface includes ORC (Spark-native, predicate pushdown and
  * partition pruning included). The round trip is the honest gate: rows
  * travel write → on-disk format → read, and the oracle reads the SAME
  * logical rows straight from the original parquet, so any type-mapping
  * or timestamp-precision asymmetry in the format path fails the value
  * hash.
  *
  * Reference: the reference engine's sinks are text-file only
  * (K1 in SURVEY.md §2); the columnar sink surface is part of the
  * beyond-reference format coverage.
  */
object Formats {

  /** One ORC copy of the lineitem projection per fixture dir per JVM —
    * written partitioned by l_returnflag so the read-back can prove
    * partition pruning (same memo pattern as CdcParser's rendered-line
    * dirs). */
  private val orcDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private val cols =
    Seq("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_shipdate")

  def orcLineitemDir(s: SparkSession, d: String): String =
    orcDirs.computeIfAbsent(d, _ => {
      val out = tempDir("graft_orc_").toString
      Tables.lineitem(s, d)
        .select((cols.map(col) :+ col("l_returnflag")): _*)
        .write.mode("overwrite")
        // Hive-style partition layout: one directory per flag value, so
        // a flag predicate prunes whole directories at planning time —
        // the same layout a 100 TB table would use for its coarse key
        .partitionBy("l_returnflag")
        .orc(out)
      out
    })

  /** The 'R' partition read back from ORC: the flag predicate must
    * resolve to PartitionFilters (directory pruning, zero IO on other
    * flags), never a post-scan filter. */
  def orcRoundTrip(s: SparkSession, d: String): DataFrame =
    s.read.orc(orcLineitemDir(s, d))
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
        col("l_quantity"), col("l_extendedprice"), col("l_shipdate"))

  /** One schema-evolved two-batch parquet layout per fixture dir per
    * JVM (same memo + shutdown-hook cleanup discipline as the ORC
    * copies): batch 1 written with the ORIGINAL two-column schema,
    * batch 2 with an added `lang` column — the lakehouse reality that
    * tables gain columns over their lifetime and old files stay as
    * written. */
  private val evoDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()

  def evolvedDocsDir(s: SparkSession, d: String): String =
    evoDirs.computeIfAbsent(d, _ => {
      val out = tempDir("graft_evo_").toString
      val docs = Tables.documents(s, d)
      docs.filter(col("doc_id") % 2 === 0).select("doc_id", "source")
        .write.mode("overwrite").parquet(s"$out/batch1")
      docs.filter(col("doc_id") % 2 === 1).select("doc_id", "source", "lang")
        .write.mode("overwrite").parquet(s"$out/batch2")
      out
    })

  val defs: Seq[GraftQuery] = Seq(
    // SCHEMA EVOLUTION on read: two parquet batches with different
    // schemas (a column added between writes) unified by mergeSchema —
    // rows from the pre-evolution files surface the new column as
    // NULL, exactly DuckDB's union_by_name semantics (mirrored in the
    // oracle as a typed-NULL UNION ALL over the same deterministic
    // slices). At 100 TB this is the contract that lets a decade of
    // heterogeneous files stay one logical table; mergeSchema is the
    // read-time knob (footer-schema union at planning, no data
    // rewrite).
    sql("schema_evolution_read",
      """SELECT doc_id, source, CAST(NULL AS VARCHAR) AS lang
        |FROM documents WHERE doc_id % 2 = 0
        |UNION ALL
        |SELECT doc_id, source, lang
        |FROM documents WHERE doc_id % 2 = 1""".stripMargin) {
      (s, d) =>
        val dir = evolvedDocsDir(s, d)
        s.read.option("mergeSchema", "true")
          .parquet(s"$dir/batch1", s"$dir/batch2")
          .select("doc_id", "source", "lang")
    },

    sql("orc_roundtrip_lineitem",
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        | l_quantity, l_extendedprice, l_shipdate
        |FROM lineitem WHERE l_returnflag = 'R'""".stripMargin)(orcRoundTrip))
}
