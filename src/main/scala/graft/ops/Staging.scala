package graft.ops

import graft.io.ParquetTableIO
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation}

/** The one way code in `ops/` and `queries/` materializes an
  * intermediate frame that several consumers re-read.
  *
  * By default `stage` is `localCheckpoint`: one in-memory
  * materialization, released deterministically. localCheckpoint pins
  * blocks in executor storage and is NOT fault-tolerant: on a
  * preemptible cluster a lost executor loses blocks whose lineage was
  * truncated, killing the job. Setting the session conf
  * `spark.graft.staging.dir` (e.g. `--conf spark.graft.staging.dir=
  * /warehouse/tmp`, or `-Dspark.graft.staging.dir=…` on a JVM that
  * builds its own session) reroutes every staged frame of that session
  * through a parquet table write + read-back via
  * [[graft.io.ParquetTableIO]] — durable across executor loss, at the
  * cost of one table write per staged frame (cost delta on the bench
  * corpus recorded in OPTIMIZATION_r06.md).
  *
  * Lifecycle: a stage is either released inside the op that made it
  * ([[release]], [[releaseDeep]], or [[using]] for a stage scoped to one
  * block), or it backs the op's returned frame. [[release]] frees a
  * local stage's blocks and deletes a durable stage's table. A stage
  * that backs a returned frame is reclaimed by the ContextCleaner
  * (local) or with the staging directory after the run (durable; table
  * names are `<pid>-<seq>-<name>`, unique per process, so concurrent
  * runs sharing a dir never collide).
  */
private[graft] object Staging {

  /** Session conf naming the durable staging dir; unset = localCheckpoint. */
  val DirConf = "spark.graft.staging.dir"

  private val seq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Durable tables this process wrote and has not deleted — release only
    * ever deletes a path found here, never a caller's input table. */
  private val durableTables =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Path]()

  /** Materialize `df` once for multi-consumer reuse: localCheckpoint by
    * default, durable parquet round-trip when the session sets
    * [[DirConf]]. `name` only labels the durable table (diagnosability);
    * uniqueness comes from pid + a process-wide sequence.
    */
  def stage(df: DataFrame, name: String): DataFrame =
    df.sparkSession.conf.getOption(DirConf).filter(_.nonEmpty) match {
      case None => df.localCheckpoint()
      case Some(dir) =>
        val io = new ParquetTableIO(dir)
        val table =
          s"${ProcessHandle.current().pid()}-${seq.incrementAndGet()}-$name"
        io.write(df, table, SaveMode.ErrorIfExists)
        val staged = io.read(df.sparkSession, table)
        tablePaths(staged.queryExecution.analyzed).foreach(durableTables.add)
        staged
    }

  /** Stage `df`, hand the stage to `f`, and release it when `f` returns.
    * `f` must not return anything that still lazily reads the stage. */
  def using[A](df: DataFrame, name: String)(f: DataFrame => A): A = {
    val staged = stage(df, name)
    try f(staged) finally release(staged)
  }

  /** Release a staged frame: frees a local stage's blocks
    * (`Dataset.unpersist` is a no-op for checkpoint blocks — they are
    * pinned by the LogicalRDD) and deletes a durable stage's table. No-op
    * for a frame that is not itself a stage. Only safe once nothing lazy
    * still reads it.
    */
  def release(df: DataFrame): Unit = free(df, df.queryExecution.analyzed)

  /** Deep variant of [[release]]: every stage reachable in `df`'s
    * analyzed plan — for callers holding only a frame DERIVED from a
    * stage (e.g. the projection nearDupClusters returns over its final
    * label table).
    */
  def releaseDeep(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach(free(df, _))

  private def free(df: DataFrame, node: LogicalPlan): Unit = node match {
    case lr: LogicalRDD => lr.rdd.unpersist(blocking = false); ()
    case _ =>
      val hadoopConf = df.sparkSession.sparkContext.hadoopConfiguration
      tablePaths(node).filter(durableTables.remove)
        .foreach(p => p.getFileSystem(hadoopConf).delete(p, true))
  }

  private def tablePaths(node: LogicalPlan): Seq[Path] = node match {
    case lr: LogicalRelation => lr.relation match {
      case fs: HadoopFsRelation => fs.location.rootPaths
      case _ => Nil
    }
    case _ => Nil
  }
}
