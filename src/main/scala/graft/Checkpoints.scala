package graft

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias, View}
import org.apache.spark.sql.execution.LogicalRDD

/** The one owner of held frames. The engine holds an intermediate in one
  * way only, a pin ([[pin]]: an eager `localCheckpoint`), and frees it
  * through [[release]] or by leaving a [[scoped]] block (PinSitesSpec allows
  * no other caller of `localCheckpoint`/`persist`/`cache`/`unpersist` in
  * main, and no `persist` or `cache` here).
  *
  * Why a pin and not a cache: a pin cuts the lineage, so a held frame keeps
  * only its rows alive. A cached frame keeps its executed plan too, with
  * every broadcast relation in it, for as long as Spark's CacheManager
  * holds the entry (`Pipeline.run`'s 1.86 MB feature table kept 110.9 MB of
  * broadcasts that way). A pin is one checkpoint RDD, so every held frame
  * has one identity (its RDD id) and one release rule: unpersist that RDD.
  * `Dataset.unpersist` does NOT free it (the blocks belong to the RDD inside
  * the `LogicalRDD` relation), and waiting for the ContextCleaner ties block
  * lifetime to driver GC timing: unbounded accumulation on a long-lived
  * driver (a stream pinning per micro-batch, an iterative operator per
  * round, a harness re-running queries).
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

  /** Each open scope's pins (their checkpoint RDDs), innermost first. */
  private val scopes = new ThreadLocal[List[mutable.Buffer[RDD[_]]]] {
    override def initialValue(): List[mutable.Buffer[RDD[_]]] = Nil
  }

  /** Eager `localCheckpoint`: materialized now, lineage cut. Under AQE the
    * result forgets its partitioning (see `PageRank.cut`). */
  def pin(df: DataFrame): DataFrame = {
    val p = df.localCheckpoint(true)
    for (held <- scopes.get.headOption; rdd <- checkpointRdd(p)) held += rdd
    p
  }

  /** Free a pinned frame now (a no-op for other frames); frames built from
    * it must not run afterwards. A checkpoint is found through the ANALYZED
    * plan with alias wrappers stripped: one that crossed sessions through a
    * global temp view (PageRank / Bpe) analyzes to
    * `SubqueryAlias(view, LogicalRDD)`. */
  def release(df: DataFrame): Unit = checkpointRdd(df).foreach { rdd =>
    scopes.get.foreach { held =>
      val i = held.indexWhere(_.id == rdd.id)
      if (i >= 0) held.remove(i)
    }
    rdd.unpersist(false)
  }

  /** Run `body`, then free what this thread pinned inside it, except what
    * the result's frames read: the result itself when it is a Dataset, else
    * the Datasets among its product fields (tuples, case classes), at any
    * depth. */
  def scoped[T](body: => T): T = {
    val held = mutable.Buffer.empty[RDD[_]]
    val outer = scopes.get
    scopes.set(held :: outer)
    var kept: Set[Int] = Set.empty
    try {
      val out = body
      if (held.nonEmpty) kept = readBy(out)
      out
    } finally {
      scopes.set(outer)
      val (up, dead) = held.partition(rdd => kept(rdd.id))
      outer.headOption.foreach(_ ++= up)
      dead.foreach(_.unpersist(false))
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

  /** The ids of the RDDs that frames reachable from `out` read through a
    * `LogicalRDD` leaf of their analyzed plans: the pins they still need. */
  private def readBy(out: Any): Set[Int] = {
    def frames(x: Any): Seq[Dataset[_]] = x match {
      case d: Dataset[_] => Seq(d)
      case _: Iterable[_] => Nil
      case p: Product => p.productIterator.toSeq.flatMap(frames)
      case _ => Nil
    }
    frames(out).flatMap(_.queryExecution.analyzed
      .collectWithSubqueries { case l: LogicalRDD => l.rdd.id }).toSet
  }
}
