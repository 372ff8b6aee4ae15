package graft

import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Source/sink format breadth: the engine's tables round-trip through
  * JSON and ORC with values intact (schema-carrying formats preserve
  * types; JSON needs the explicit schema on read — same policy as the
  * CSV extract: never infer). */
class SourceFormatsSpec extends AnyFunSuite with SparkTestSession {

  private val sfDir = "/root/testdata/sf0.001"

  test("JSON round-trip with explicit schema preserves orders exactly") {
    val orders = Tables.orders(spark, sfDir)
    val out = java.nio.file.Files.createTempDirectory("graft_json").toString
    orders.write.mode("overwrite").json(out)
    val back = spark.read.schema(orders.schema).json(out)
    assert(back.count() === orders.count())
    val a = orders.orderBy("o_orderkey").collect().toSeq
    val b = back.orderBy("o_orderkey").collect().toSeq
    assert(a === b)
  }

  test("ORC round-trip preserves lineitem aggregates bit-exactly") {
    val li = Tables.lineitem(spark, sfDir)
    val out = java.nio.file.Files.createTempDirectory("graft_orc").toString
    li.write.mode("overwrite").orc(out)
    val back = spark.read.orc(out)
    def fingerprint(df: org.apache.spark.sql.DataFrame) =
      df.agg(
        count(lit(1)),
        sum(graft.functions.ExactNum.cents(col("l_extendedprice"))),
        sum(col("l_quantity")).cast("long"))
        .head().toSeq
    assert(fingerprint(back) === fingerprint(li))
  }

  test("events reader handles both ts layouts the driver has shipped") {
    // The driver's testdata now stores ts as a native micros timestamp,
    // so the legacy INT64-nanos path (TIMESTAMP(NANOS) surfaced as a
    // raw long) has no on-disk coverage left — synthesize it: write the
    // same rows with ts as nanos-since-epoch longs and assert both
    // layouts read back identical micros timestamps through
    // Tables.events. Also pins the footer probe's verdict on each.
    val native = Tables.events(spark, sfDir)
    assert(Tables.eventsTsNativeType(spark, sfDir).isDefined)
    val legacyDir =
      java.nio.file.Files.createTempDirectory("graft_events_legacy").toString
    native
      .withColumn("ts", unix_micros(col("ts")) * lit(1000L)) // micros -> nanos
      .write.mode("overwrite").parquet(s"$legacyDir/events.parquet")
    assert(Tables.eventsTsNativeType(spark, legacyDir).isEmpty)
    val legacy = Tables.events(spark, legacyDir)
    assert(legacy.schema("ts").dataType ===
      org.apache.spark.sql.types.TimestampType)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("event_id", "ts").orderBy("event_id").collect().toSeq
    assert(rows(legacy) === rows(native))
    assert(rows(native).nonEmpty)
  }

  test("every table reads with the schema Spark itself infers") {
    def fields(st: org.apache.spark.sql.types.StructType) =
      st.fields.toSeq.map(f => (f.name, f.dataType, f.nullable, f.metadata))
    Tables.all.foreach { n =>
      val inferred = spark.read.parquet(s"$sfDir/$n.parquet").schema
      assert(fields(Tables.table(spark, sfDir, n).schema) === fields(inferred), n)
    }
    val rawEvents = spark.read.parquet(s"$sfDir/events.parquet")
    val tsType = rawEvents.schema("ts").dataType
    assert(tsType === org.apache.spark.sql.types.TimestampNTZType)
    assert(Tables.eventsTsNativeType(spark, sfDir) === Some(tsType))
    assert(fields(Tables.events(spark, sfDir).schema) ===
      fields(rawEvents.withColumn("ts", col("ts").cast("timestamp")).schema))
  }

  test("a table's schema is inferred once per session, not once per build") {
    Tables.lineitem(spark, sfDir)
    Tables.events(spark, sfDir)
    assert(Jobs.during(spark) {
      Tables.lineitem(spark, sfDir)
      Tables.events(spark, sfDir)
    }.isEmpty)
    val other = spark.newSession()
    assert(Jobs.during(other)(Tables.lineitem(other, sfDir)).nonEmpty)
    assert(Jobs.during(other)(Tables.lineitem(other, sfDir)).isEmpty)
  }

  test("a path rewritten with a different schema is inferred again") {
    val dir = java.nio.file.Files.createTempDirectory("graft_rewrite").toString
    val path = s"$dir/t.parquet"
    spark.range(3).selectExpr("id AS a").write.mode("overwrite").parquet(path)
    val before = Tables.table(spark, dir, "t")
    assert(before.columns.toSeq === Seq("a"))
    assert(before.count() === 3)
    spark.range(5).selectExpr("CAST(id AS STRING) AS b", "id * 2 AS c")
      .write.mode("overwrite").parquet(path)
    val after = Tables.table(spark, dir, "t")
    assert(after.schema === spark.read.parquet(path).schema)
    assert(after.columns.toSeq === Seq("b", "c"))
    assert(after.orderBy("c").collect().map(r => (r.getString(0), r.getLong(1))).toSeq ===
      (0L until 5L).map(i => (i.toString, 2 * i)))
  }
}
