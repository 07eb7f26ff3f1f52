package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel
import graft.Caching.TrackedSyntax

/** DAG composition (reference `MetalNode` graphs, node.py:102: `a > b > c`,
  * fan-out `a > (b, c)`, fan-in `(a, b) > c`).
  *
  * The reference wires thread-backed nodes with queues; here every edge is a
  * lazy DataFrame hand-off, so "running" the pipeline is just resolving the
  * DAG into plans. The one genuinely operational concern fan-out adds —
  * recomputing a shared upstream once per consumer — is handled by
  * persisting any stage with more than one consumer (the cluster analogue
  * of the reference's queue fan-out, which also materializes each message
  * once per downstream). A stage whose function reads an input twice — a
  * driver action or eager checkpoint over it, then a returned plan that
  * reads it again — declares `twoPass` and counts as two consumers of that
  * input, so the same rule materializes it once.
  */
final class Pipeline private (stages: Vector[(String, Pipeline.Stage)]) {
  import Pipeline._

  private def add(name: String, s: Stage): Pipeline = {
    require(!stages.exists(_._1 == name), s"duplicate stage '$name'")
    new Pipeline(stages :+ (name -> s))
  }

  /** A source node: any DataFrame (file scan, generator, stream). */
  def source(name: String, df: DataFrame): Pipeline = add(name, Source(df))

  /** `from > name`: a 1-in transform stage. `twoPass`: `f` reads its
    * input twice, so `from` is materialized once (see the class doc).
    */
  def stage(name: String, from: String, twoPass: Boolean = false)
           (f: DataFrame => DataFrame): Pipeline = {
    require(stages.exists(_._1 == from), s"unknown upstream '$from'")
    add(name, FanIn(Seq(from), if (twoPass) Set(from) else Set.empty, dfs => f(dfs.head)))
  }

  /** `(from...) > name`: fan-in; default combiner is unionByName.
    * `twoPass` names the inputs `f` reads twice.
    */
  def fanIn(name: String, from: Seq[String], twoPass: Set[String] = Set.empty)
           (f: Seq[DataFrame] => DataFrame = _.reduce(_ unionByName _)): Pipeline = {
    from.foreach(u => require(stages.exists(_._1 == u), s"unknown upstream '$u'"))
    require(twoPass.subsetOf(from.toSet), s"twoPass inputs ${twoPass -- from} not in from")
    add(name, FanIn(from, twoPass, f))
  }

  /** Resolve the DAG to DataFrames. Stages consumed by 2+ downstreams — a
    * `twoPass` read counting twice — are persisted so neither fan-out nor a
    * two-pass operator recomputes the shared prefix. A stage that is
    * already cached (e.g. `csv_permissive`'s tracked parse, or a caller's
    * own persist) is left as it is: not persisted again, and not released
    * by [[graft.Caching.drain]] on the pipeline's behalf.
    *
    * Memoized per Pipeline instance: stage functions may carry real side
    * effects (the config `*_index_write` ops run an index build when their
    * stage resolves), so re-resolving on every `output()` call would
    * re-execute those builds — requesting two outputs from one config
    * would rebuild and overwrite the index twice. The class is immutable
    * (every combinator returns a new Pipeline), so one resolution per
    * instance is always the right answer.
    */
  def build(): Map[String, DataFrame] = resolved0

  private lazy val resolved0: Map[String, DataFrame] = {
    val consumers = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    stages.foreach {
      case (_, FanIn(from, twoPass, _)) => (from ++ twoPass).foreach(consumers(_) += 1)
      case _                            =>
    }
    val resolved = scala.collection.mutable.LinkedHashMap.empty[String, DataFrame]
    stages.foreach { case (name, s) =>
      val df = s match {
        case Source(d)         => d
        case FanIn(from, _, f) => f(from.map(resolved))
      }
      resolved(name) = if (consumers(name) > 1 && !df.isStreaming &&
          df.storageLevel == StorageLevel.NONE) df.trackedPersist() else df
    }
    resolved.toMap
  }

  /** Build and return one terminal stage. */
  def output(name: String): DataFrame = build()(name)
}

object Pipeline {
  sealed private trait Stage
  private final case class Source(df: DataFrame) extends Stage
  /** Every non-source stage; a 1-in transform is a one-input fan-in. */
  private final case class FanIn(from: Seq[String], twoPass: Set[String],
                                 f: Seq[DataFrame] => DataFrame) extends Stage

  def empty: Pipeline = new Pipeline(Vector.empty)
  def apply(): Pipeline = empty
}
