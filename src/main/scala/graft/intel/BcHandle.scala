package graft.intel

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession

import java.io.{ObjectInputStream, ObjectOutputStream}
import java.lang.ref.WeakReference
import scala.reflect.ClassTag

/** Executor-shared handle for compiled lookup structures (IntelDb arrays,
  * clean-turn screens) carried by Catalyst expressions.
  *
  * Embedding the structure directly in the expression ships it inside the
  * serialized task binary, so EVERY TASK deserializes the full compiled db
  * — measured 2.1 s/task for a 100k-glob database (SerProbe: the same 200k
  * lookups took 136 s at 64 partitions vs 2.5 s at 4). At 10^12-turn scale
  * with millions of tasks that per-task tax dominates all real work. The
  * reference's process model is "load the .mxy once, mmap it everywhere"
  * (bin/match_processor); the Spark analog is a Broadcast: one
  * deserialization per EXECUTOR, cached by the BlockManager, fetched
  * torrent-style instead of from the driver per task.
  *
  * `auto` broadcasts when a session is active (every pipeline/driver
  * path); the inline fallback keeps expression construction working in
  * sessionless unit tests — there the value rides the task binary exactly
  * as before, which is correct albeit per-task (local JVM, cheap).
  */
abstract class BcHandle[T] extends Serializable {
  def get: T
  /** The broadcasts this handle reads (none when inline). */
  private[graft] def broadcasts: Seq[Broadcast[_]] = Nil
}

object BcHandle {
  private final class Inline[T](v: T) extends BcHandle[T] {
    def get: T = v
  }

  private final class Broadcasted[T](bc: Broadcast[T]) extends BcHandle[T] {
    def get: T = bc.value
    override private[graft] def broadcasts = Seq(bc)
  }

  /** A database array whose elements are each broadcast once per
    * SparkContext ([[IntelDb.broadcastIn]]): every scan call and every
    * scan column over the same instances reuses the same broadcasts, so
    * a call ships and plans nothing per database. The driver-side handle
    * holds the instances, which keeps them alive for as long as a plan
    * using them exists.
    */
  private final class Dbs(@transient private val onDriver: Array[IntelDb],
      parts: Array[Broadcast[SharedDb]]) extends BcHandle[Array[IntelDb]] {
    @transient private lazy val dbs =
      if (onDriver != null) onDriver else parts.map(_.value.db)
    def get: Array[IntelDb] = dbs
    override private[graft] def broadcasts = parts.toSeq
  }

  /** Broadcast payload for one [[IntelDb]]. It serializes the database
    * itself, but the driver's own copy — which the block manager keeps for
    * tasks in the driver JVM — refers to the instance only weakly. A strong
    * reference there would close the loop instance -> broadcast -> block
    * manager -> instance, and a dropped (hot-reloaded) database could never
    * be collected nor its broadcast cleaned.
    */
  final class SharedDb(instance: IntelDb) extends Serializable {
    @transient private var weak = new WeakReference(instance)
    // set only on a deserialized copy (executors), which owns its instance
    @transient private var strong: IntelDb = _
    def db: IntelDb = {
      val d = if (strong != null) strong else weak.get
      require(d != null, "intel database collected while a scan used it")
      d
    }
    private def writeObject(out: ObjectOutputStream): Unit =
      out.writeObject(db)
    private def readObject(in: ObjectInputStream): Unit = {
      strong = in.readObject().asInstanceOf[IntelDb]
      weak = new WeakReference(strong)
    }
  }

  private def activeContext =
    SparkSession.getActiveSession.map(_.sparkContext).filterNot(_.isStopped)

  def auto[T: ClassTag](v: T): BcHandle[T] = activeContext match {
    case Some(sc) => new Broadcasted(sc.broadcast(v))
    case None => new Inline(v)
  }

  /** The scan's database handle: one broadcast per instance per
    * SparkContext, shared across calls (a new instance — hot reload — or a
    * new context gets a fresh one); inline without a session.
    */
  def dbs(dbs: Seq[IntelDb]): BcHandle[Array[IntelDb]] = {
    val arr = dbs.toArray
    activeContext match {
      case Some(sc) => new Dbs(arr, arr.map(_.broadcastIn(sc)))
      case None => new Inline(arr)
    }
  }
}
