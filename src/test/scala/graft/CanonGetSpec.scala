package graft

import graft.functions.CanonGet
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[CanonGet]] must agree with the `str_to_map(row, FS, KV)[name]`
  * spelling it replaced on every canonical-row shape the engine
  * produces — including the cases a sloppy scanner gets wrong (name
  * prefixes of other names, empty values, the literal "null", the
  * last pair with no trailing FS, absent keys → SQL NULL). */
class CanonGetSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  import graft.streaming.DeltaEngine.{FS, KV}

  private val rows = Seq(
    s"a${KV}1${FS}ab${KV}2${FS}b${KV}",            // prefix collision + empty value
    s"a${KV}x",                                    // single pair, no FS
    s"k${KV}null${FS}z${KV}v",                     // encoded SQL null
    "",                                            // empty row
    s"c_name${KV}Customer#1${FS}o_orderdate${KV}1996-01-02",
    s"x${KV}${FS}y${KV}w")                         // empty value mid-row

  test("canon_get matches str_to_map getItem on every shape") {
    val df = rows.toDF("row")
    for (name <- Seq("a", "ab", "b", "k", "z", "c_name", "o_orderdate",
        "x", "y", "missing")) {
      val got = df.select(CanonGet.canon_get(col("row"), name)).collect()
        .map(r => Option(r.getString(0)))
      val want = df.select(
        str_to_map(col("row"), lit(FS.toString), lit(KV.toString))
          .getItem(name)).collect().map(r => Option(r.getString(0)))
      assert(got.toSeq == want.toSeq, s"column '$name'")
    }
  }

  test("codegen and interpreted paths agree") {
    val df = rows.toDF("row").repartition(2)
    val viaCodegen = df.select(CanonGet.canon_get(col("row"), "a").as("v"))
      .collect().map(r => Option(r.getString(0))).toSeq.sortBy(_.getOrElse(""))
    val interpreted = rows.map { r =>
      Option(CanonGet.get(
        org.apache.spark.unsafe.types.UTF8String.fromString(r),
        org.apache.spark.unsafe.types.UTF8String.fromString("a")))
        .map(_.toString)
    }.sortBy(_.getOrElse(""))
    assert(viaCodegen == interpreted)
  }
}
