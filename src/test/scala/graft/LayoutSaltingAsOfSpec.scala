package graft

import graft.etl.Layout
import graft.operators.Salting
import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class LayoutSaltingAsOfSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  test("bucketed co-located join plans with NO shuffle exchange") {
    val dir = "/root/testdata/sf0.001"
    Layout.writeBucketed(Tables.orders(spark, dir), "orders_b", "o_orderkey", 4)
    Layout.writeBucketed(Tables.lineitem(spark, dir), "lineitem_b", "l_orderkey", 4)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("orders_b")
        .join(spark.table("lineitem_b"),
          col("o_orderkey") === col("l_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"expected shuffle-free plan:\n$plan")
      assert(joined.count() > 0)
      // same result as the unbucketed join
      val plain = Tables.orders(spark, dir).join(
        Tables.lineitem(spark, dir), col("o_orderkey") === col("l_orderkey"))
      assert(joined.count() === plain.count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("writeBucketed clears an orphaned location via the Hadoop FileSystem") {
    // fresh-session simulation (round-12, VERDICT item 4): a previous
    // JVM's managed table left files at <warehouse>/<table> but this
    // session's in-memory catalog has no entry — exactly the state that
    // used to fail saveAsTable with LOCATION_ALREADY_EXISTS. The sweep
    // must go through the Hadoop FileSystem resolved from the
    // file:-scheme warehouse (cluster-portable), and must fire ONLY in
    // this no-catalog-entry case.
    val warehouse = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"))
    val fs = warehouse.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val loc = new org.apache.hadoop.fs.Path(warehouse, "layout_orphan_t")
    spark.sql("DROP TABLE IF EXISTS layout_orphan_t")
    fs.mkdirs(loc)
    val f = fs.create(new org.apache.hadoop.fs.Path(loc, "part-stale.parquet"))
    f.writeBytes("stale"); f.close()
    assert(!spark.catalog.tableExists("layout_orphan_t") && fs.exists(loc))
    Layout.writeBucketed(
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), "layout_orphan_t", "k", 2)
    assert(spark.table("layout_orphan_t").count() === 2)
    // the stale file is gone — only the fresh write's files remain
    val listed = fs.listStatus(loc).map(_.getPath.getName)
    assert(!listed.contains("part-stale.parquet"), listed.mkString(","))
  }

  test("writeBucketed leaves a LIVE table's location to the catalog drop") {
    // catalog-known table: the orphan sweep must NOT fire (an external
    // table's data would survive its DROP; force-deleting the location
    // out-of-band would destroy user data) — overwrite still works
    // end-to-end through the normal drop-then-write path
    Layout.writeBucketed(
      Seq((1L, "x")).toDF("k", "v"), "layout_live_t", "k", 2)
    Layout.writeBucketed(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), "layout_live_t", "k", 2)
    assert(spark.table("layout_live_t").count() === 3)
  }

  test("appendBucketed keeps the join exchange-free after an append") {
    Layout.writeBucketed(
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), "layout_app_t", "k", 4)
    Layout.appendBucketed(
      Seq((3L, "c"), (4L, "d")).toDF("k", "v"), "layout_app_t", "k", 4)
    Layout.writeBucketed(
      (1L to 4L).map(k => (k, k * 10)).toDF("k", "w"), "layout_app_probe", "k", 4)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("layout_app_t")
        .join(spark.table("layout_app_probe"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"append broke co-location:\n$plan")
      assert(joined.count() === 4)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("IVF assigned table bucketed by cell_id: near-dup pair join has no Exchange") {
    // the at-scale layout the Ivf scaladoc promises: persist the cell
    // map bucketed on cell_id, and the e05-style pair self-join runs
    // straight over the bucketed scans — zero shuffles however large
    // the corpus
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val index = graft.operators.Ivf.build(emb, k = 8, iters = 1)
    Layout.writeBucketed(
      index.assigned.select("vec_id", "cell_id"), "ivf_assigned_b", "cell_id", 4)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val t = spark.table("ivf_assigned_b")
      val pairs = t.as("a").join(t.as("b"),
        col("a.cell_id") === col("b.cell_id") && col("a.vec_id") < col("b.vec_id"))
      val plan = pairs.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"expected shuffle-free pair join:\n$plan")
      // same pairs as the unbucketed join
      val plain = index.assigned.select("vec_id", "cell_id")
      assert(pairs.count() ===
        plain.as("a").join(plain.as("b"),
          col("a.cell_id") === col("b.cell_id") && col("a.vec_id") < col("b.vec_id"))
          .count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("salted join returns exactly the unsalted result under skew") {
    // skewed fact: 10k rows on one hot key, a few on others
    val large = (Seq.fill(10000)(1) ++ Seq(2, 2, 3)).toDF("k")
    val small = Seq((1, "a"), (2, "b"), (4, "d")).toDF("k", "v")
    val salted = Salting.saltedJoin(large, small, "k", salt = 8)
    val plain  = large.join(small, Seq("k"))
    assert(salted.count() === plain.count())
    assert(salted.groupBy("k", "v").count().collect().toSet ===
      plain.groupBy("k", "v").count().collect().toSet)
    // cluster-retry safety (SPARK-23207 class): nothing nondeterministic
    // may feed the shuffled join key — a recomputed map task must
    // re-salt every row identically, so the whole plan must be built
    // from deterministic expressions only
    val nondet = salted.queryExecution.executedPlan.collect {
      case p => p.expressions.flatMap(_.collect {
        case e if !e.deterministic => e
      })
    }.flatten
    assert(nondet.isEmpty,
      s"nondeterministic expressions under salted join: $nondet")
  }

  test("salted join accepts a map-typed column on the large side") {
    // xxhash64 rejects MapType at analysis time, so the salt must be
    // derived from the hashable columns only — a map column anywhere in
    // the large side's schema (ADVICE r10) must not break the operator
    val large = (Seq.fill(1000)(1) ++ Seq(2, 3))
      .toDF("k").withColumn("attrs", map(lit("a"), col("k") * 2))
    val small = Seq((1, "a"), (2, "b")).toDF("k", "v")
    val salted = Salting.saltedJoin(large, small, "k", salt = 4)
    val plain = large.join(small, Seq("k"))
    assert(salted.count() === plain.count())
    assert(salted.select("k", "v").groupBy("k", "v").count().collect().toSet ===
      plain.select("k", "v").groupBy("k", "v").count().collect().toSet)
  }
}
