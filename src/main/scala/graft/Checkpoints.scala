package graft

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias, View}
import org.apache.spark.sql.execution.{CommandExecutionMode, LogicalRDD}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.storage.StorageLevel

/** The one owner of pinned frames: the engine pins ([[pin]]) and caches
  * ([[cache]]) only through here, and frees through [[release]] or by
  * leaving a [[scoped]] block (PinSitesSpec allows no other caller of
  * `localCheckpoint`/`persist`/`cache`/`unpersist` in main).
  *
  * Why: `Dataset.unpersist` does NOT free the RDD behind a localCheckpoint
  * (the blocks belong to the RDD inside the `LogicalRDD` relation), and
  * waiting for the ContextCleaner ties block lifetime to driver GC timing —
  * unbounded accumulation on a long-lived driver (a stream checkpointing
  * per micro-batch, an iterative operator per round, a harness re-running
  * queries).
  *
  * Ownership rule: a pin belongs to the innermost `scoped` block open on
  * the thread that made it (a plain ThreadLocal: stream and pool threads
  * never join a caller's scope). On exit, normal or by exception, the block
  * frees its pins, except those that a frame in its result still reads
  * (through the analyzed plan): those pass to the enclosing scope, so a
  * returned lazy frame stays readable until its caller's scope ends. A pin
  * made outside any scope has no owner; it lives until [[release]] or the
  * ContextCleaner. */
object Checkpoints {

  /** Each open scope's pins, innermost first: pinned or cached frames and
    * cached RDDs. */
  private val scopes = new ThreadLocal[List[mutable.Buffer[AnyRef]]] {
    override def initialValue(): List[mutable.Buffer[AnyRef]] = Nil
  }

  private def own[A <: AnyRef](x: A): A = { scopes.get.headOption.foreach(_ += x); x }

  /** Eager `localCheckpoint`: materialized now, lineage cut. Under AQE the
    * result forgets its partitioning (see `PageRank.cut`). */
  def pin(df: DataFrame): DataFrame = own(df.localCheckpoint(true))

  /** Lazy `persist` (MEMORY_AND_DISK): the cached plan keeps reporting its
    * partitioning. */
  def cache(df: DataFrame): DataFrame = own(df.persist())

  /** Lazy `persist` (MEMORY_AND_DISK) of an RDD; freed with its scope. */
  def cache[T](rdd: RDD[T]): RDD[T] = own(rdd.persist(StorageLevel.MEMORY_AND_DISK))

  /** Free a pinned or cached frame now (a no-op for other frames); frames
    * built from it must not run afterwards. A checkpoint is found through
    * the ANALYZED plan with alias wrappers stripped: one that crossed
    * sessions through a global temp view (PageRank / Bpe) analyzes to
    * `SubqueryAlias(view, LogicalRDD)`. */
  def release(df: DataFrame): Unit = { forget(key(df)); free(df) }

  /** Run `body`, then free what this thread pinned inside it, except what
    * the result's frames read: the result itself when it is a Dataset, else
    * the Datasets among its product fields (tuples, case classes), at any
    * depth. */
  def scoped[T](body: => T): T = {
    val held = mutable.Buffer.empty[AnyRef]
    val outer = scopes.get
    scopes.set(held :: outer)
    var kept: AnyRef => Boolean = _ => false
    try {
      val out = body
      if (held.nonEmpty) kept = readBy(out)
      out
    } finally {
      scopes.set(outer)
      val (up, dead) = held.partition(kept)
      outer.headOption.foreach(_ ++= up)
      dead.foreach(free)
    }
  }

  private def checkpointRdd(df: Dataset[_]): Option[RDD[_]] = {
    @annotation.tailrec
    def strip(p: LogicalPlan): LogicalPlan = p match {
      case a: SubqueryAlias => strip(a.child)
      case v: View => strip(v.child)
      case other => other
    }
    Some(strip(df.queryExecution.analyzed)).collect { case l: LogicalRDD => l.rdd }
  }

  /** A pin's identity across frame handles: the RDD id of a checkpoint or
    * cached RDD, else the cached frame. */
  private def key(x: AnyRef): Any = x match {
    case rdd: RDD[_] => rdd.id
    case df: Dataset[_] => checkpointRdd(df).fold[Any](df)(_.id)
  }

  private def forget(k: Any): Unit = scopes.get.foreach { held =>
    val i = held.indexWhere(key(_) == k)
    if (i >= 0) held.remove(i)
  }

  private def free(x: AnyRef): Unit = x match {
    case rdd: RDD[_] => rdd.unpersist(false)
    case df: Dataset[_] => checkpointRdd(df).fold[Any](df.unpersist(false))(_.unpersist(false))
  }

  /** Whether a frame reachable from `out` reads a pin: a checkpoint or cached
    * RDD through a `LogicalRDD` leaf, a cached frame through the cache entry
    * Spark would substitute into the plan. */
  private def readBy(out: Any): AnyRef => Boolean = {
    def frames(x: Any): Seq[Dataset[_]] = x match {
      case d: Dataset[_] => Seq(d)
      case _: Iterable[_] => Nil
      case p: Product => p.productIterator.toSeq.flatMap(frames)
      case _ => Nil
    }
    val plans = frames(out).map(_.queryExecution.analyzed)
    val rdds = plans.flatMap(_.collectWithSubqueries { case l: LogicalRDD => l.rdd.id }).toSet
    pin => (pin, key(pin)) match {
      case (_, id: Int) => rdds(id)
      case (df: Dataset[_], _) =>
        // a fresh QueryExecution: substituting on the result's own would fix
        // its cache use before the caller's action runs
        def entries(p: LogicalPlan) = df.sparkSession.sessionState
          .executePlan(p, CommandExecutionMode.SKIP).withCachedData
          .collectWithSubqueries { case r: InMemoryRelation => r.cacheBuilder }
        val mine = entries(df.queryExecution.analyzed)
        plans.exists(entries(_).exists(b => mine.exists(_ eq b)))
      case _ => false
    }
  }
}
