package graft.sources

import java.util.concurrent.{ExecutionException, Executors}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.{SparkSession, classic}
import org.apache.spark.sql.execution.SQLExecution
import scala.util.Try

/** The independent passes of one store verb, run concurrently: passes
  * that read and write disjoint tables (a layout's scan table and its
  * `vecs`, the postings and the df side table, the two halves of a
  * hybrid delete) would otherwise run one after another on a
  * scheduler that sits mostly idle between their small jobs.
  *
  * A verb keeps its order around a group: its guards and any
  * stats-invalidating meta write run before it, its meta commit after
  * every pass of it has finished. A pass writes no session conf; a
  * setting a group needs is made once around the whole group.
  */
private[graft] object Passes {

  // daemon threads: an idle pass thread never keeps the JVM alive; a
  // cached pool, so a pass that runs a group of its own never waits for
  // a thread its caller holds
  private val pool = {
    val n = new AtomicInteger
    Executors.newCachedThreadPool { r =>
      val t = new Thread(r, s"graft-pass-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    }
  }

  /** A pass named `name` (its job description's last part). A pass
    * that produces a value assigns it to a local of its caller, read
    * once [[run]] has returned.
    */
  def pass(name: String)(body: => Unit): (String, () => Unit) =
    name -> (() => body)

  /** Run `passes` concurrently, each on a pooled thread with the
    * caller's active session, SQL conf and local properties, its Spark
    * jobs described `<verb>.<name>` (the caller's own description is
    * untouched). Returns once every pass has finished, so every pass's
    * effects are visible to the caller. When any failed, every pass is
    * still waited for, then the first failure in pass order is thrown
    * with the others attached as suppressed.
    */
  def run(spark: SparkSession, verb: String)(
      passes: (String, () => Unit)*): Unit = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val running = passes.map { case (name, body) =>
      SQLExecution.withThreadLocalCaptured(session, pool) {
        spark.sparkContext.setJobDescription(s"$verb.$name")
        body()
      }
    }
    val failures = running.flatMap(f => Try(f.get()).failed.toOption.map {
      case e: ExecutionException if e.getCause != null => e.getCause
      case e => e
    })
    failures match {
      case first +: rest =>
        rest.filterNot(_ eq first).foreach(first.addSuppressed)
        throw first
      case _ =>
    }
  }
}
