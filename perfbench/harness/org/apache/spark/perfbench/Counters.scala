package org.apache.spark.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Job/task counters per benchmark scope.
  *
  * The harness tags every Spark job it causes with a scope name (a local
  * property on the calling thread); this listener attributes jobs, tasks,
  * shuffle-write bytes and spill bytes to that scope. It lives under
  * `org.apache.spark` only to drain the listener bus before counters are
  * read, so a count never misses the tail of the job that just ended. */
final class Counters extends SparkListener {
  import Counters._

  private val stageScope = mutable.Map.empty[Int, String]
  private val byScope = mutable.Map.empty[String, Tally]

  private def tally(scope: String): Tally = byScope.getOrElseUpdate(scope, new Tally)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val scope = Option(e.properties).flatMap(p => Option(p.getProperty(ScopeKey))).getOrElse("")
    e.stageIds.foreach(id => stageScope(id) = scope)
    tally(scope).jobs += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = tally(stageScope.getOrElse(e.stageId, ""))
    t.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Snapshot of one scope's counters (all zero if it ran no job). */
  def get(scope: String): Tally = synchronized(byScope.get(scope).map(_.copy()).getOrElse(new Tally))

  /** Sum over every scope. */
  def total: Tally = synchronized {
    val s = new Tally
    byScope.values.foreach(s += _)
    s
  }
}

object Counters {
  val ScopeKey = "perfbench.scope"

  final class Tally(var jobs: Long = 0, var tasks: Long = 0,
      var shuffleWriteBytes: Long = 0, var spillBytes: Long = 0) {
    def copy(): Tally = new Tally(jobs, tasks, shuffleWriteBytes, spillBytes)
    def +=(o: Tally): Unit = {
      jobs += o.jobs; tasks += o.tasks
      shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    }
    def -(o: Tally): Tally = new Tally(jobs - o.jobs, tasks - o.tasks,
      shuffleWriteBytes - o.shuffleWriteBytes, spillBytes - o.spillBytes)
  }

  def install(sc: SparkContext): Counters = {
    val c = new Counters
    sc.addSparkListener(c)
    c
  }

  /** Block until every event posted so far has reached the listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
