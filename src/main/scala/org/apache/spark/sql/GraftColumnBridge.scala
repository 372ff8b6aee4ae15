package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into the `private[sql]` Column↔Expression conversions so
  * graft's native Catalyst expressions (graft.plans) can be exposed as
  * `Column`s programmatically. Spark 4's unified Column API hides the
  * classic constructors; extension libraries conventionally bridge from
  * inside the sql package. */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Release the block-manager storage behind a `localCheckpoint`ed
    * Dataset. `Dataset.unpersist` only clears CacheManager entries, and
    * the checkpointed RDD is reachable solely through the plan's
    * `LogicalRDD` scan — without this, every iteration of a loop that
    * checkpoints per round leaks one labels snapshot until session end.
    * No-op for plans that aren't checkpointed-RDD scans and for
    * reliable (file-based) checkpoints, whose RDD is not persisted.
    * Goes through the context rather than `RDD.unpersist`, which logs a
    * WARN per locally checkpointed RDD that its lineage is truncated —
    * the point of releasing it, and ~12 lines per index advance. */
  def unpersistCheckpointed(df: Dataset[_]): Unit =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.logical match {
      case lr: execution.LogicalRDD =>
        lr.rdd.sparkContext.unpersistRDD(lr.rdd.id, blocking = false)
      case _ => ()
    }

  /** Delete the checkpoint FILES behind a reliably-checkpointed
    * Dataset (no-op for local checkpoints and non-checkpoint plans).
    * Spark never removes non-streaming reliable checkpoints until
    * session end (and then only with cleanCheckpoints=true), so an
    * intermediate snapshot that exists purely to split a timer — like
    * Components' raw edge materialization — would otherwise double
    * the checkpoint-store footprint per call on cluster deployments.
    * Only call this once nothing will read the Dataset again. */
  def removeCheckpointFiles(df: Dataset[_]): Unit =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.logical match {
      case lr: execution.LogicalRDD =>
        lr.rdd.getCheckpointFile.foreach { p =>
          val path = new org.apache.hadoop.fs.Path(p)
          val fs = path.getFileSystem(
            df.sparkSession.sparkContext.hadoopConfiguration)
          try fs.delete(path, true)
          catch { case e: java.io.IOException =>
            graft.Log.warn(
              s"[graft] checkpoint cleanup of $p failed: ${e.getMessage}")
          }
        }
      case _ => ()
    }

  /** Create `dst` as a catalog-metadata copy of managed table `src`
    * (schema, bucket spec, format, table properties) at dst's own
    * default managed location — the metadata half of the storage-level
    * table clone an index advance appends to (PairIndex's
    * `cloneTableWithData`). One SessionCatalog call
    * instead of CREATE LIKE + SHOW TBLPROPERTIES + ALTER + REFRESH
    * round-trips through the SQL layer (each of which pays a full
    * parse/analyze; measured as most of a 1.3 s clone of a 15 MB
    * index). Stats are dropped: the clone's data files are copied
    * after this call and any stale estimate must not outlive them.
    *
    * Returns the CATALOG-resolved (src location, dst location) so the
    * data copy uses the real table paths: deriving them from the
    * warehouse-dir string convention silently breaks under a
    * non-default current database (the catalog places dst under
    * <db>.db/ while the convention points at the warehouse root,
    * yielding an empty clone) and under explicit table locations. */
  def cloneTableDefinition(spark: SparkSession, src: String, dst: String):
      (org.apache.hadoop.fs.Path, org.apache.hadoop.fs.Path) = {
    val cat = spark.asInstanceOf[classic.SparkSession].sessionState.catalog
    val m = cat.getTableMetadata(catalyst.TableIdentifier(src))
    cat.createTable(
      m.copy(
        identifier = catalyst.TableIdentifier(dst),
        createTime = System.currentTimeMillis(),
        storage = m.storage.copy(locationUri = None),
        stats = None),
      ignoreIfExists = false)
    val d = cat.getTableMetadata(catalyst.TableIdentifier(dst))
    (new org.apache.hadoop.fs.Path(m.location),
      new org.apache.hadoop.fs.Path(d.location))
  }

  /** Block until the async listener bus has dispatched every posted
    * event, or `timeoutMs` elapses. Returns true when the bus drained,
    * false on timeout. Bench uses this to attribute per-query stage
    * metrics exactly: a fixed post-query sleep silently discarded any
    * stage-completion event that arrived later than the sleep (the
    * round-16 ADVICE finding) — a deterministic drain makes late
    * events impossible rather than merely unlikely. The bus is
    * `private[spark]`, hence this bridge. */
  def waitListenerBusEmpty(spark: SparkSession, timeoutMs: Long): Boolean =
    try {
      spark.sparkContext.listenerBus.waitUntilEmpty(timeoutMs)
      true
    } catch {
      case _: java.util.concurrent.TimeoutException => false
    }
}
