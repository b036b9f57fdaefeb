package graft.ops

import scala.reflect.ClassTag
import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession

/** The static driver-side indexes the engine probes from codegen'd
  * expressions — the catchment and mask [[graft.geo.GridIndex]]es of
  * [[SpatialJoin]] and the [[RatingCurves]] of [[RatingInterp]] — each
  * broadcast **once per SparkContext**, however many plans read it.
  * An index is keyed by identity (the index classes keep `AnyRef`
  * equality), so each JVM-lifetime `lazy val` maps to one broadcast. */
object Broadcasts {

  private var shared: Option[(SparkContext, Map[AnyRef, Broadcast[_]])] = None

  /** `value` broadcast on `spark`'s SparkContext: a call on a new context
    * (e.g. after `stop()`) broadcasts afresh and never hands out a stopped
    * context's broadcast. */
  def of[T <: AnyRef : ClassTag](spark: SparkSession, value: T): Broadcast[T] = synchronized {
    val sc = spark.sparkContext
    val live = shared.collect { case (c, m) if c eq sc => m }.getOrElse(Map.empty)
    live.getOrElse(value, {
      val b = sc.broadcast(value)
      shared = Some((sc, live + (value -> b)))
      b
    }).asInstanceOf[Broadcast[T]]
  }
}
