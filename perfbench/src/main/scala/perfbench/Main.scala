package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.util.Random
import org.apache.spark.metrics.source.{CodegenMetrics, HiveCatalogMetrics}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Closed-loop benchmark client: one JVM, one client, the next query sent
  * only when the previous one has returned.
  *
  * A run sets up once (session, table registration, warm-up), timed from
  * JVM start, then makes one cold pass over the workload's queries in their given
  * order and at least `--passes` warm passes, more until `--seconds` of
  * warm query time have been spent, each in an order drawn from `--seed`.
  * Every execution's latency is taken by the client, from just before its
  * worker thread starts to just after the join returns; inside it, the
  * worker marks the public calls into the engine's layers. It runs in its
  * own job group under a deadline, and has its result digested outside
  * the timed window.
  *
  * It writes the raw records as JSON to `--out`; `run.py` turns them into
  * the benchmark's metrics. With `--trace 1` a [[JobLog]] listener is
  * attached and each execution also carries its Spark jobs.
  */
object Main {
  final class Exec(val pass: Int, val index: Int, val query: String) {
    val group = s"perfbench-$pass-$index"
    var status = "timeout"
    var error = ""
    // The client's window, in epoch milliseconds, and its length.
    var startMs, endMs, wallS = 0.0
    // The worker's nanoTime marks: started, built, planned, collected. A
    // mark the worker did not reach holds the time it stopped, so a
    // failed execution carries its time up to the failure. Empty for a
    // timeout, whose worker may still be running.
    var marks: Array[Long] = Array.empty
    var phasesMs: Map[String, Long] = Map.empty
    var rows: Array[Row] = Array.empty
    var schema: StructType = new StructType()
    var digest = ""
    var codegen, filesListed, persisted = 0L
    var storageMb = 0.0
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def o(k: String): String = opt.getOrElse(k, sys.error(s"missing --$k"))
    val data = o("data")
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val trace = o("trace") == "1"
    val cores = o("cores").toInt
    val minPasses = o("passes").toInt
    val deadlineMs = (o("deadline").toDouble * 1000).toLong
    val budgetMs = (o("budget").toDouble * 1000).toLong
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    def sinceStartMs: Long = System.currentTimeMillis() - jvmStart
    // nanoTime to epoch milliseconds, the clock of the listener's job times.
    val epochNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
    def epochMs(ns: Long): Double = (ns + epochNs) / 1e6

    // Set-up, timed from JVM start, so that it includes JVM boot.
    val t1 = System.nanoTime()
    val t0 = t1 - sinceStartMs * 1000000L
    val spark = graft.engine.GraftSession.local(cores, cores)
    val t2 = System.nanoTime()
    graft.sources.TestTables.register(spark, data)
    val t3 = System.nanoTime()
    require(spark.sql(warmUp).collect().nonEmpty)
    val t4 = System.nanoTime()
    val setup = Seq("total_s" -> (t4 - t0) / 1e9, "session_s" -> (t2 - t1) / 1e9,
      "register_s" -> (t3 - t2) / 1e9, "warmup_s" -> (t4 - t3) / 1e9)
    val sc = spark.sparkContext
    val log = if (trace) Some(new JobLog) else None
    log.foreach(sc.addSparkListener)

    val registry = graft.SparkEntry.queries
    val names = o("queries").split(",").toSeq.map { p =>
      registry.keys.find(k => k == p || k.startsWith(p + "_"))
        .getOrElse(sys.error(s"no registry query for $p"))
    }
    val execs = mutable.ArrayBuffer.empty[Exec]

    def run(pass: Int, index: Int, name: String): Exec = {
      // The worker fills its own record; it is kept only if the worker
      // finished in time, so a late finisher cannot overwrite a timeout.
      val w = new Exec(pass, index, name)
      val codegen0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val files0 = HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount
      val worker = new Thread(() => {
        sc.setJobGroup(w.group, name, interruptOnCancel = true)
        val marks = mutable.ArrayBuffer(System.nanoTime())
        def mark(): Unit = marks += System.nanoTime()
        try {
          val df: DataFrame = registry(name)(spark, data)
          mark()
          graft.discard(df.queryExecution.executedPlan)
          mark()
          val rows = df.collect()
          mark()
          w.phasesMs = df.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs }
          w.rows = rows
          w.schema = df.schema
          w.status = "ok"
        } catch {
          case t: Throwable =>
            w.error = s"${t.getClass.getName}: ${t.getMessage}".take(300)
            w.status = "error"
        } finally {
          while (marks.size < 4) mark()
          w.marks = marks.toArray
          sc.clearJobGroup()
        }
      }, w.group)
      worker.setDaemon(true)
      val waitMs = math.max(1000L, math.min(deadlineMs, budgetMs - sinceStartMs))
      val c0 = System.nanoTime()
      worker.start()
      worker.join(waitMs)
      val c1 = System.nanoTime()
      val e = if (!worker.isAlive) w else {
        sc.cancelJobGroup(w.group)
        worker.interrupt()
        worker.join(5000)
        val t = new Exec(pass, index, name)
        t.error = s"no result within ${waitMs} ms"
        t
      }
      e.startMs = epochMs(c0)
      e.endMs = epochMs(c1)
      e.wallS = (c1 - c0) / 1e9
      e.codegen = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - codegen0
      e.filesListed = HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount - files0
      e.persisted = sc.getPersistentRDDs.size.toLong
      e.storageMb = storageMb(spark)
      if (e.status == "ok") e.digest = Digest(e.rows, e.schema)
      e.rows = Array.empty
      execs += e
      e
    }

    // The cold pass keeps the workload's order: a cold query runs slower
    // the earlier it comes, while the JIT is still compiling, so a seeded
    // cold order would add that position effect to cold_s's spread.
    def order(pass: Int): Seq[String] =
      if (pass == 0) names else new Random(seed * 1000003L + pass).shuffle(names)
    def inBudget: Boolean = sinceStartMs < budgetMs

    // Cold pass. A GC before each query keeps one query's garbage out of
    // the next one's cold time.
    order(0).zipWithIndex.foreach { case (n, i) =>
      if (inBudget) { System.gc(); graft.discard(run(0, i, n)) }
    }
    // Warm passes: at least --passes, so that warm_s is a median of
    // passes, and more until --seconds of warm query time are spent.
    var pass = 0
    var warmS = 0.0
    while (inBudget && (pass < minPasses || warmS < seconds)) {
      pass += 1
      order(pass).zipWithIndex.foreach { case (n, i) =>
        if (inBudget) warmS += run(pass, i, n).wallS
      }
    }

    // Live memory after the last pass: force GC until the heap and the
    // block-manager storage stop shrinking, giving the context cleaner a
    // bounded time to drop the blocks of unreachable datasets.
    var heapMb, liveStorageMb = Double.MaxValue
    var settled = false
    var round = 0
    while (!settled && round < 12) {
      System.gc()
      Thread.sleep(250)
      val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
      val storage = storageMb(spark)
      settled = storage >= liveStorageMb && heap >= heapMb * 0.99
      System.err.println(f"[perfbench] settle $round: heap $heap%.1f MB, storage $storage%.1f MB")
      heapMb = math.min(heap, heapMb)
      liveStorageMb = math.min(storage, liveStorageMb)
      round += 1
    }
    val drained = log.forall(_ => org.apache.spark.ListenerBusDrain(sc, 20000))
    val jobs = log.map(_.byGroup).getOrElse(Map.empty)

    val out = Json.obj(Seq(
      "setup" -> Json.obj(setup.map { case (k, v) => k -> Json.num(v) }),
      "heap_mb" -> Json.num(heapMb),
      "storage_mb" -> Json.num(liveStorageMb),
      "bus_drained" -> drained.toString,
      "executions" -> Json.arr(execs.toSeq.map(e =>
        execJson(e, jobs.getOrElse(e.group, Nil), epochMs)))))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(o("out")), out + "\n")
    spark.stop()
    // A timed-out query may still hold a worker thread; exit regardless.
    sys.exit(0)
  }

  /** Set-up's warm-up: a scan, join, ROLLUP aggregation, window and sort
    * over the two smallest tables, so that loading the engine's operator
    * classes is paid in set-up and not by the first query of the cold
    * pass. */
  val warmUp: String =
    """SELECT r_name, n_name, count(*) AS n, sum(n_nationkey) AS s,
      |  rank() OVER (PARTITION BY r_name ORDER BY n_name) AS rk
      |FROM nation JOIN region ON n_regionkey = r_regionkey
      |GROUP BY ROLLUP(r_name, n_name) ORDER BY r_name, n_name""".stripMargin

  def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  def execJson(e: Exec, jobs: Seq[JobLog#Job], epochMs: Long => Double): String = {
    def n(v: Double) = Json.num(v)
    def span(i: Int) = if (e.marks.isEmpty) 0.0 else (e.marks(i + 1) - e.marks(i)) / 1e9
    Json.obj(Seq(
      "pass" -> e.pass.toString, "index" -> e.index.toString, "query" -> Json.str(e.query),
      "status" -> Json.str(e.status), "error" -> Json.str(e.error),
      "start_ms" -> n(e.startMs), "end_ms" -> n(e.endMs), "wall_s" -> n(e.wallS),
      "marks_ms" -> Json.arr(e.marks.toSeq.map(m => n(epochMs(m)))),
      "build_s" -> n(span(0)), "physical_s" -> n(span(1)), "execute_s" -> n(span(2)),
      "phases_ms" -> Json.obj(e.phasesMs.toSeq.sorted.map { case (k, v) => k -> v.toString }),
      "digest" -> Json.str(e.digest),
      "codegen_compiles" -> e.codegen.toString, "files_listed" -> e.filesListed.toString,
      "persisted_rdds" -> e.persisted.toString, "storage_mb" -> n(e.storageMb),
      "jobs" -> Json.arr(jobs.map(j => Json.obj(Seq(
        "id" -> j.id.toString, "start_ms" -> j.startMs.toString, "end_ms" -> j.endMs.toString,
        "stages" -> j.stages.toString, "tasks" -> j.tasks.toString,
        "run_ms" -> j.runMs.toString, "cpu_ns" -> j.cpuNs.toString, "gc_ms" -> j.gcMs.toString,
        "input_bytes" -> j.inputBytes.toString, "output_bytes" -> j.outputBytes.toString,
        "shuffle_write_bytes" -> j.shuffleWriteBytes.toString,
        "shuffle_read_bytes" -> j.shuffleReadBytes.toString,
        "spill_bytes" -> j.spillBytes.toString))))))
  }
}

/** Minimal JSON rendering for the harness's flat records. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
}
