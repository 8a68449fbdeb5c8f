package perfbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Runs one workload in one JVM: session start, a warm-up that touches
  * every input table, then whole rounds: at least the workload's
  * `minRounds` and until `--seconds` have passed (untraced), or exactly
  * `minRounds` under the [[Trace]] listener. Writes every call's record to
  * `<out>/result.json` and each op's first result to `<out>/ref/<op>`;
  * run.py turns the records into metrics and checks the results.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --data DIR --out DIR --nproc P --launch-ms T --rows k=v,...
  *   [--fail-op NAME]
  */
object Main {
  final case class Call(op: Op, round: Int, start: Long, end: Long,
      status: String, error: String, counters: Option[CallCounters],
      leakedBlocks: Int)

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val launchMs = args("launch-ms").toLong
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val data = args("data")
    val out = args("out")
    val nproc = args("nproc").toInt
    val failOp = args.get("fail-op")
    val rows = args("rows").split(",").map { kv =>
      val Array(k, v) = kv.split("="); k -> v.toLong
    }.toMap
    val mainMs = System.currentTimeMillis()

    val spark = session(nproc, out)
    val sessionS = (System.currentTimeMillis() - mainMs) / 1000.0
    var peakHeapMb = 0.0

    val wl = Workloads(workload, spark, data, seed, rows)
    def ops(r: Int): Seq[Op] = wl.round(r).map { op =>
      if (failOp.contains(op.name))
        op.copy(run = () => throw new IllegalStateException(s"injected failure in ${op.name}"))
      else op
    }

    val refs = mutable.LinkedHashMap.empty[String, Outcome]
    val calls = mutable.ArrayBuffer.empty[Call]
    val rounds = mutable.ArrayBuffer.empty[(Int, Long, Long)]
    def runRound(r: Int, trace: Option[Trace]): Unit = {
      val t0 = System.currentTimeMillis()
      ops(r).foreach(op => calls += call(spark, op, r, refs, trace))
      rounds += ((r, t0, System.currentTimeMillis()))
      // Caches a call leaves behind stay for the rest of the round, as in a
      // session; the heap is measured with them, then they are released.
      peakHeapMb = math.max(peakHeapMb, liveHeapMb())
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }

    // Warm-up: touch every input table once, so the timed calls do not pay
    // the first parquet footer read and scan code generation.
    val warmStart = System.currentTimeMillis()
    new File(data).listFiles().filter(_.getName.endsWith(".parquet"))
      .foreach(f => spark.read.parquet(f.getPath).count())
    val firstTimedMs = System.currentTimeMillis()
    val warmS = (firstTimedMs - warmStart) / 1000.0

    if (!traced) {
      // Whole rounds, so every run sees the same mix. run.py reports times
      // per round, so a faster engine that fits in more rounds reads faster.
      var r = 1
      while (r <= wl.minRounds || (System.currentTimeMillis() - firstTimedMs) < seconds * 1000) {
        runRound(r, None)
        r += 1
      }
    } else {
      // exactly the rounds every run makes, so the counts repeat for a seed
      val trace = new Trace
      spark.sparkContext.addSparkListener(trace)
      (1 to wl.minRounds).foreach(runRound(_, Some(trace)))
      val complete = trace.awaitJobs(30000)
      spark.sparkContext.removeSparkListener(trace)
      if (!complete) System.err.println("[perfbench] listener did not see every job end")
      val withCounters = calls.map(c =>
        c.copy(counters = Some(trace.counters(callId(c.round, c.op.name, c.start), c.start, c.end))))
      calls.clear(); calls ++= withCounters
    }
    val ratios = if (traced) wl.wasteRatios() else Map.empty[String, Double]

    // Reference results, written once and untimed, for run.py's checks
    // against the registry's oracle SQL.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(nproc)
    refs.map { case (name, o) =>
      pool.submit(new Runnable {
        def run(): Unit = spark.createDataFrame(o.rows.asJava, o.schema).coalesce(1)
          .write.mode("overwrite").parquet(s"$out/ref/$name")
      })
    }.foreach(_.get())
    pool.shutdown()
    val oracle = graft.SparkEntry.oracleSql.filter(e => refs.contains(e._1))

    writeJson(s"$out/result.json", Map(
      "workload" -> workload, "seed" -> seed, "traced" -> traced,
      "launch_ms" -> launchMs, "main_ms" -> mainMs,
      "first_timed_ms" -> firstTimedMs,
      "session_start_s" -> sessionS, "warmup_s" -> warmS,
      "peak_heap_mb" -> peakHeapMb,
      "rounds" -> rounds.map { case (r, s, e) => Map("round" -> r, "start_ms" -> s, "end_ms" -> e) },
      "calls" -> calls.map(callJson),
      "waste_ratios" -> ratios,
      "oracle_sql" -> oracle))
    if (traced) writeSpans(s"$out/spans.json", calls.toSeq)
    spark.stop()
  }

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  private def writeJson(path: String, value: Any): Unit =
    mapper.writeValue(new File(path), value)

  /** Heap in use after a full collection. Spark cleans up some driver
    * state asynchronously once the collector has found it unreachable, and
    * about 16 MB was seen to outlive the first two collections; so collect
    * six times, letting the cleanup run in between, and keep the lowest
    * reading. */
  private def liveHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 6).map { _ =>
      System.gc()
      Thread.sleep(250)
      mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }.min
  }

  private def session(nproc: Int, out: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      // keep the status store's job/stage/task history small, so the
      // driver heap reflects the engine and not the listener bookkeeping
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "100")
      .getOrCreate()

  private def callId(round: Int, name: String, start: Long): String = s"$round:$name:$start"

  /** One call: span around the call into the layer and the consumption of
    * its result; after the span, the result is compared with the op's
    * first result. In a traced call, the cached partitions of RDDs the call
    * persisted and did not release are counted after the span too. */
  private def call(spark: SparkSession, op: Op, round: Int,
      refs: mutable.Map[String, Outcome], trace: Option[Trace]): Call = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val start = System.currentTimeMillis()
    sc.setLocalProperty(Trace.OpKey, callId(round, op.name, start))
    val result = try Try(op.run()) finally sc.setLocalProperty(Trace.OpKey, null)
    val end = System.currentTimeMillis()
    val (status, error) = result match {
      case Failure(e) =>
        System.err.println(s"[perfbench] ${op.name} failed: $e")
        ("threw", e.toString)
      case Success(o) => refs.get(op.name) match {
        case None                            => refs(op.name) = o; ("ok", "")
        case Some(r) if r.digest == o.digest => ("ok", "")
        case Some(_) => ("mismatch", "result differs from the op's first result")
      }
    }
    val leaked = if (trace.isEmpty) 0 else sc.getRDDStorageInfo
      .filterNot(i => before.contains(i.id)).map(_.numCachedPartitions).sum
    Call(op, round, start, end, status, error, None, leaked)
  }

  private def callJson(c: Call): Map[String, Any] = {
    val base = Map[String, Any](
      "op" -> c.op.name, "layer" -> c.op.layer, "round" -> c.round,
      "start_ms" -> c.start, "end_ms" -> c.end, "rows_in" -> c.op.rowsIn,
      "status" -> c.status, "error" -> c.error,
      "leaked_cache_blocks" -> c.leakedBlocks)
    base ++ c.counters.toSeq.flatMap { k =>
      Seq("jobs" -> k.jobs, "stages" -> k.stages, "tasks" -> k.tasks,
        "job_s" -> k.jobS, "task_s" -> k.taskS, "wait_s" -> k.waitS,
        "input_mb" -> k.inputMb, "shuffle_write_mb" -> k.shuffleWriteMb,
        "spill_mb" -> k.spillMb)
    }
  }

  /** Spans: one per call (parent: the run), one per Spark job (parent: the
    * call that submitted it), all carrying the call's op id. */
  private def writeSpans(path: String, calls: Seq[Call]): Unit = {
    val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
    spans += Map("id" -> "run", "name" -> "run", "start_ms" -> calls.head.start,
      "end_ms" -> calls.last.end, "parent" -> null, "op" -> null)
    calls.foreach { c =>
      val id = callId(c.round, c.op.name, c.start)
      spans += Map("id" -> id, "name" -> c.op.name, "layer" -> c.op.layer,
        "start_ms" -> c.start, "end_ms" -> c.end, "parent" -> "run", "op" -> id,
        "status" -> c.status)
      c.counters.toSeq.flatMap(_.jobSpans).foreach { case (job, s, e) =>
        spans += Map("id" -> s"job:$job", "name" -> s"spark job $job",
          "start_ms" -> s, "end_ms" -> e, "parent" -> id, "op" -> id)
      }
    }
    writeJson(path, spans.toSeq)
  }
}
