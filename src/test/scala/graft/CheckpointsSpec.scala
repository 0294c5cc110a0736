package graft

import graft.llmops.Checkpoints
import graft.llmops.Checkpoints.Stageable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.time.SpanSugar._

/** Pins the staged-round primitive (llmops.Checkpoints): probes read
  * off the staging job agree with a separate aggregate, an empty pruned
  * probe reads as the caller's default, and a round loop leaves behind
  * only the staged rounds its final state reads. */
class CheckpointsSpec extends EngineSuite with BoundedTests {
  def testLimit = 2.minutes

  private def rddIds(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd.id }.toSet

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("a probe equals a separate count and max over the staged relation") {
    // a shuffle below the probe, so the staging job has several stages
    val rel = spark.range(0, 5000, 1, 6).toDF("id")
      .groupBy((col("id") % 97).as("g")).agg(max(col("id")).as("m"))
    def check(): Unit = {
      val (staged, p) = Checkpoints.stage(rel,
        Seq(count(lit(1)).as("n"), max(col("m")).as("mx")))
      assert(p("n", -1L) == staged.count())
      assert(p("mx", -1L) == staged.agg(max(col("m"))).head().getLong(0))
      Checkpoints.unpersist(staged)
    }
    check()
    val dir = java.nio.file.Files.createTempDirectory("graft_probe").toString
    spark.sparkContext.setCheckpointDir(dir)
    spark.conf.set(Checkpoints.ReliableKey, "true")
    try check() // the reliable checkpoint job must not count rows twice
    finally spark.conf.unset(Checkpoints.ReliableKey)
  }

  test("a nested probe over an empty broadcast winner reads the default") {
    val sess = spark
    import sess.implicits._
    // the BPE winner shape: a TopN over pair counts, probed, broadcast
    // into a left join with the symbol relation — here with no pairs
    val syms = Seq(("ab", "a", "b"), ("ab", "b", null)).toDF("word", "sym", "nxt")
    val winner = Checkpoints.probe(
      Seq(("a", "b", 3L)).toDF("l", "r", "pair_freq").filter(col("pair_freq") < 0)
        .orderBy(col("pair_freq").desc, col("l"), col("r")).limit(1),
      max(col("l")).as("l"), max(col("pair_freq")).as("f"))
    val (staged, p) = Checkpoints.stage(
      syms.join(broadcast(winner.select(col("l"), col("r"))),
        col("sym") === col("l") && col("nxt") === col("r"), "left"), Nil)
    assert(staged.count() == 2)
    assert(p("f", -7L) == -7L)
    assert(p("l", "none") == "none")
    Checkpoints.unpersist(staged)
  }

  test("the k-core peel and label propagation keep only their final round") {
    val sess = spark
    import sess.implicits._
    // a triangle with a pendant path: the peel drops the path over rounds
    val e0 = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
      .toDF("a", "b").staged
    val before = persisted
    val core = llmops.Dedup.kCore(e0)
    assert(persisted -- before == rddIds(core))
    assert((rddIds(e0) & persisted).isEmpty, "the input round is superseded")
    assert(core.count() == 3)
    Checkpoints.unpersist(core)

    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)).toDF("src", "dst").staged
    val labels0 = Seq((1L, "x")).toDF("doc_id", "label").staged
    val mid = persisted
    val labels = llmops.Dedup.propagateLabels(edges, labels0)
    assert(persisted -- mid == rddIds(labels))
    assert((rddIds(labels0) & persisted).isEmpty, "the seed round is superseded")
    assert(labels.orderBy(col("doc_id")).as[(Long, String)].collect().toSeq ==
      Seq((1L, "x"), (2L, "x"), (3L, "x")))
    Checkpoints.unpersist(labels)
    Checkpoints.unpersist(edges)
  }
}
