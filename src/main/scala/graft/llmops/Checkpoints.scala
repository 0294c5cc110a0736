package graft.llmops

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.LogicalRDD

/** Staging and the staged-round loop: the one place the llmops package
  * materializes intermediate relations, reads per-round scalars and
  * releases block-manager storage.
  *
  * '''What is staged.''' [[stage]] materializes a relation eagerly with
  * `localCheckpoint()` — executor-pinned and lineage-truncated — or, when
  * the session sets `spark.graft.stage.reliable=true` and a checkpoint
  * dir is configured, with a reliable (HDFS-backed) `checkpoint()`, the
  * one switch a long multi-executor run needs to survive executor loss.
  * Every pipeline that reads an intermediate relation more than once
  * stages it here (directly or via `.staged`).
  *
  * '''How probes are read.''' A probe is a set of aggregate columns
  * observed while the staging job runs (a `CollectMetrics` node named
  * [[ProbeName]]), either over the whole staged relation or over a
  * subtree marked with [[probe]]. The values are read from the staged
  * input's own `QueryExecution.observedMetrics` after the eager
  * checkpoint returns: the metrics are accumulators, which the scheduler
  * merges on the driver before the job's action returns, so the read is
  * synchronous and adds no Spark execution. Nothing waits on Spark's
  * asynchronous listener bus, so a probe costs no more than the round's
  * own job. A missing metric — AQE can prune an empty observed subtree,
  * `CollectMetrics` node included — or a null value reads as the
  * caller's default; emptiness is what every default encodes.
  *
  * '''What is released, and when.''' [[unpersist]] frees the checkpoint
  * blocks behind a staged relation. [[rounds]] runs every iterative
  * operator's loop: after each round it releases the staged relations
  * the superseded state (and the round's own staged relation) read that
  * the new state no longer reads, so storage stays O(1) in the round
  * count for loops that replace their state and O(Σ|round|) for ledger
  * loops whose state keeps reading every round. The final state is the
  * caller's to release. */
private[graft] object Checkpoints {

  /** Conf key: "true" + a set checkpoint dir → reliable checkpoints. */
  val ReliableKey = "spark.graft.stage.reliable"

  /** The observed-metrics name every probe uses. A staged plan holds at
    * most one probe; staging replaces the plan below it with a leaf, so
    * earlier rounds' probes never reach a later plan. */
  val ProbeName = "__graft_probe"

  /** Pre-stage optimized plan per checkpoint RDD — a checkpoint truncates
    * lineage to an opaque LogicalRDD leaf, which would blind the
    * PlanSpec corpus sweeps (single-task windows, forced broadcasts) to
    * everything below a `.staged` boundary. Keyed WEAKLY by the RDD
    * instance (the LogicalRDD holds it strongly while the DataFrame
    * lives; entries vanish with the relation), so the map never grows a
    * long-running job's heap. Test observability only — never read by
    * planning. */
  private[graft] val stagedProvenance: java.util.Map[RDD[_], LogicalPlan] =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[RDD[_], LogicalPlan])

  /** The checkpoint RDD behind a LogicalRDD leaf. */
  private def rddOf(node: LogicalPlan): Option[RDD[_]] = node match {
    case l: LogicalRDD => Some(l.rdd)
    case _ => None
  }

  /** Every checkpoint RDD a relation reads. */
  private def rddsOf(df: DataFrame): Seq[RDD[_]] =
    df.queryExecution.analyzed.collect(Function.unlift(rddOf))

  /** The pre-stage plan behind a (possibly staged) LogicalRDD leaf, if
    * this JVM staged it. */
  private[graft] def provenanceOf(node: LogicalPlan): Option[LogicalPlan] =
    rddOf(node).flatMap(r => Option(stagedProvenance.get(r)))

  /** Materialize a staging point: every pipeline that consumes an
    * intermediate relation more than once stages it through here. */
  def stage(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val reliable = spark.conf.getOption(ReliableKey).contains("true") &&
      spark.sparkContext.getCheckpointDir.isDefined
    val out = if (reliable) df.checkpoint() else df.localCheckpoint()
    // the checkpoint is eager, so the source's optimizedPlan is already
    // computed — this is a map put, not a plan
    rddsOf(out).foreach(stagedProvenance.put(_, df.queryExecution.optimizedPlan))
    out
  }

  /** [[stage]] `df` and read its probe: `probes` observed over the whole
    * relation, or, when empty, a [[probe]]-marked subtree inside it. */
  def stage(df: DataFrame, probes: Seq[Column]): (DataFrame, Probes) = {
    val observed = if (probes.isEmpty) df else probe(df, probes: _*)
    val out = stage(observed)
    (out, new Probes(observed.queryExecution.observedMetrics.get(ProbeName)))
  }

  /** Marks `df` as the probed subtree of a plan staged with empty probe
    * columns: `aggs` are computed over the rows that pass through it. */
  def probe(df: DataFrame, aggs: Column*): DataFrame =
    df.observe(ProbeName, aggs.head, aggs.tail: _*)

  /** The probe values of one staging job. */
  final class Probes private[Checkpoints] (row: Option[Row]) {
    /** The named aggregate, or `default` when the metric is missing or
      * null. */
    def apply[T](name: String, default: T): T =
      row.flatMap(r => Option(r.getAs[Any](name))).fold(default)(_.asInstanceOf[T])
  }

  /** One round of [[rounds]]: the relation to stage, its probe columns
    * (as for [[stage]]), and `next`, which maps the staged relation and
    * its probes to the new state and whether another round should run. */
  final case class Round[S](rel: DataFrame, probes: Column*)(
      val next: (DataFrame, Probes) => (S, Boolean))

  /** The staged-round loop. Round i (from 0, fewer than `cap`) builds
    * `round(state, i)`, stages it with its probes and moves to the state
    * `next` returns, stopping when `next` says so. `reads` lists the
    * relations a state reads; after each round, every checkpoint the old
    * state or the round's staged relation read and the new state does
    * not is released. A state that keeps the old rounds (a ledger) lists
    * them all and nothing is released; a `next` that returns the old
    * state releases the round's own staging. Returns the last state. */
  def rounds[S](init: S, cap: Int)(reads: S => Seq[DataFrame])(
      round: (S, Int) => Round[S]): S = {
    var state = init
    var i = 0
    var more = cap > 0
    while (more) {
      val r = round(state, i)
      val (staged, probes) = stage(r.rel, r.probes)
      val (next, again) = r.next(staged, probes)
      val live = reads(next).flatMap(rddsOf).toSet
      (reads(state) :+ staged).flatMap(rddsOf).distinct
        .filterNot(live).foreach(_.unpersist(blocking = false))
      state = next
      i += 1
      more = again && i < cap
    }
    state
  }

  /** [[rounds]] for a loop whose state is one relation, replaced by
    * `round(state)` for exactly `n` rounds. */
  def fixedRounds(init: DataFrame, n: Int)(round: DataFrame => DataFrame): DataFrame =
    rounds(init, n)(Seq(_)) { (s, _) =>
      Round[DataFrame](round(s))((next, _) => (next, true))
    }

  /** `relation.staged` — call-site-shaped like `.localCheckpoint()`. */
  implicit final class Stageable(private val df: DataFrame) extends AnyVal {
    def staged: DataFrame = stage(df)
  }

  /** Releases the block-manager storage behind every checkpoint a
    * relation reads. */
  def unpersist(df: DataFrame): Unit =
    rddsOf(df).foreach(_.unpersist(blocking = false))
}
