package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-up generator: replicates a testdata SF directory `factor`× so
  * an sf1-class bench point exists (the driver ships sf <= 0.1 only; 17
  * MB of parquet never spills and never trips AQE skew handling, so the
  * scaling story needs one empirically bigger rung).
  *
  * Replication policy — volume with realistic structure, not just
  * row-copies:
  *  - every table's keys are bumped by `rep * 10^9` per replica, so key
  *    uniqueness and FK joins (orders⋈customer) survive;
  *  - `documents` replicas get a deterministic 2-token suffix: each
  *    replica is a NEAR-dup of its base (high shingle-Jaccard, never
  *    exact) — the hard case for d06/d07/d12, multiplying both corpus
  *    size and candidate-pair pressure like a real crawl would;
  *  - `embeddings` replicas get a per-(replica, dimension) relative
  *    perturbation of up to ~1%: replicas cluster tightly around their
  *    base vector, loading e05's cell-blocked join the way duplicated
  *    content loads a real ANN index;
  *  - dims (nation/region) copy unchanged; everything is deterministic
  *    (no RNG), so the generated data is reproducible bit-for-bit.
  *
  * Usage: runMain graft.GenScale [srcDir] [outDir] [factor] [groupSize]
  * groupSize (default = factor, i.e. one all-near-dup group) bounds how
  * many replicas stay near-dups of each other; cross-group replicas get
  * token-suffixed into mutually-unrelated text. Pass groupSize < factor
  * to grow volume at CONSTANT dup density (the honest model for a
  * second bench decade — otherwise true pair cardinality grows
  * quadratically with factor and the decade measures the data, not the
  * engine).
  */
object GenScale {

  private val Off = 1000000000L // key-space stride per replica

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "/root/repo/benchdata/sf1"
    val factor = if (args.length > 2) args(2).toInt else 10
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Session.builder(cpus, src).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val reps = spark.range(factor).select(col("id").cast("int").as("rep"))

    /** factor× replicas with `keys` bumped by rep*Off (cast back to the
      * column's original type so schemas stay identical); keeps the
      * `rep` column for per-replica mutation. */
    def replicated(df: DataFrame, keys: Seq[String]): DataFrame =
      keys.foldLeft(df.crossJoin(broadcast(reps))) { (d, k) =>
        val t = df.schema(k).dataType
        d.withColumn(k, (col(k).cast("long") + col("rep") * Off).cast(t))
      }

    /** splitKey != null → hash-repartition into 32 files by that key.
      * The narrow replicate plan otherwise inherits the source's single
      * scan partition and writes ONE file with ONE parquet row group —
      * and row groups are the unit of scan parallelism, so every
      * scan-stage kernel downstream would run single-threaded no matter
      * how many cores the bench has (measured: d20 at sf10 spent 194 s
      * on one thread of 32). A real corpus arrives as many
      * files/row-groups; 32 hash-split files per table model that.
      * Hash-by-key keeps file contents deterministic across runs. */
    def write(df: DataFrame, name: String, splitKey: String = null): Unit = {
      val laid = if (splitKey == null) df else df.repartition(32, col(splitKey))
      laid.write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[genscale] $name: ${spark.read.parquet(s"$out/$name.parquet").count()} rows")
    }

    // facts: key bumps only
    write(replicated(spark.read.parquet(s"$src/lineitem.parquet"),
      Seq("l_orderkey")).drop("rep"), "lineitem", "l_orderkey")
    write(replicated(spark.read.parquet(s"$src/orders.parquet"),
      Seq("o_orderkey", "o_custkey")).drop("rep"), "orders", "o_orderkey")
    write(replicated(spark.read.parquet(s"$src/customer.parquet"),
      Seq("c_custkey")).drop("rep"), "customer", "c_custkey")

    // dims + tables the scaled bench subset never joins through keys
    Seq("nation", "region", "supplier", "part").foreach { t =>
      write(spark.read.parquet(s"$src/$t.parquet"), t)
    }

    // events: Tables.events handles both ts layouts the driver has
    // shipped (legacy INT64-nanos and native micros timestamp) and
    // yields a micros TimestampType either way, so scaled events are
    // always written as native timestamps — replicas add load inside
    // the SAME hour windows (ts untouched; only ids are bumped).
    write(replicated(graft.sources.Tables.events(spark, src),
      Seq("event_id", "user_id")).drop("rep"),
      "events", "event_id")

    // documents: within a GROUP of `groupSize` replicas, replica g·gs is
    // verbatim-of-mutated-base and the rest append " v<k> <hash6>" →
    // shingle-Jaccard within the group stays near 1 (near-dup). ACROSS
    // groups every token gets a "_<g>" suffix, so no shingle is shared
    // and groups are mutually unrelated. groupSize = factor (the
    // default) reproduces the single-group behavior; a smaller
    // groupSize grows the corpus at CONSTANT dup density — the honest
    // scale model for a second bench decade (otherwise true pair
    // cardinality, not engine cost, grows quadratically with factor).
    val groupSize = if (args.length > 3) args(3).toInt else factor
    require(groupSize > 0 && factor % groupSize == 0,
      s"groupSize $groupSize must divide factor $factor")
    val grp = expr(s"rep div $groupSize").cast("int")
    val inGrp = (col("rep") % groupSize).cast("int")
    val nearDup = when(inGrp === 0, col("text"))
      .otherwise(concat(col("text"), lit(" v"), inGrp.cast("string"), lit(" "),
        substring(md5(concat_ws("_", col("doc_id"), col("rep"))), 1, 6)))
    val docs = replicated(spark.read.parquet(s"$src/documents.parquet"), Seq("doc_id"))
      .withColumn("text",
        when(grp === 0, nearDup)
          .otherwise(array_join(
            transform(split(nearDup, " "),
              t => concat(t, lit("_"), grp.cast("string"))), " ")))
      .drop("rep")
    write(docs, "documents", "doc_id")

    // documents_para: paragraph-structured variant for d27's delimiter
    // path — each replica's text re-segmented into 40-token paragraphs
    // joined by "\n\n", with replica k mutating every third paragraph
    // (rotating by k) and keeping the rest verbatim, so replicas share
    // ~2/3 of their paragraphs with their base (the shared-boilerplate
    // density of a real crawl). A SEPARATE table: the token-stream
    // `documents` (and every query pinned on it) stays byte-identical.
    val paraDocs = replicated(
        spark.read.parquet(s"$src/documents.parquet"), Seq("doc_id"))
      .withColumn("text",
        array_join(
          transform(graft.operators.TextAnalysis.chunksCol(col("text"), 40, 40),
            (p, i) => when(col("rep") === 0 || (i + col("rep")) % 3 =!= 0, p)
              .otherwise(concat(p, lit(" m"), col("rep").cast("string")))),
          "\n\n"))
      .drop("rep")
    write(paraDocs, "documents_para", "doc_id")

    // embeddings: replica 0 verbatim; replicas 1.. scale each dimension
    // by 1 + ((31i + 7·rep) mod 97 − 48)·2e-4 ∈ [1−9.6e-3, 1+9.6e-3] —
    // deterministic, replica clusters stay ~cos 0.9999 around the base
    val emb = replicated(spark.read.parquet(s"$src/embeddings.parquet"), Seq("vec_id"))
      .withColumn("embedding",
        when(col("rep") === 0, col("embedding"))
          .otherwise(transform(col("embedding"), (x, i) =>
            (x.cast("double") *
              (lit(1.0) +
                (pmod(i * 31 + col("rep") * 7, lit(97)) - lit(48)).cast("double")
                  * lit(2.0e-4))).cast("float"))))
      .drop("rep")
    write(emb, "embeddings", "vec_id")

    spark.stop()
  }
}
