package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. It sets up one workload, runs it in a closed
  * loop for a fixed time and writes everything it measured to one JSON
  * file; `run.py` checks the outputs and prints the result line.
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --input DIR --work DIR --out FILE
  *
  * `--input` holds the generated tables (see gen.py); everything the run
  * writes (rungs, ledgers, Spark scratch space) goes under `--work`.
  */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, input: String, work: String, out: String)

  def parse(argv: Array[String]): Opts = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
         need("trace") == "1", need("input"), need("work"), need("out"))
  }

  def main(argv: Array[String]): Unit = {
    val o = parse(argv)
    val jvmStart = Clock.fromMs(ManagementFactory.getRuntimeMXBean.getStartTime)
    val workload = Workloads.byName.getOrElse(o.workload,
      sys.error(s"unknown workload ${o.workload}"))
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .config("spark.graft.scratchDir", s"${o.work}/scratch")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val run = new Run(spark, o, cpus)
    val sessionReady = Clock.now
    try {
      val result = workload.run(run)
      val setupS = (sessionReady - jvmStart) / 1e9 + result.setupS
      run.write(result, setupS, (sessionReady - jvmStart) / 1e9)
    } finally spark.stop()
  }
}

/** One execution of one operation (a query, or a stream pass). */
final case class OpRec(name: String, pass: Int, wallS: Double, ok: Boolean,
                       error: String, rows: Long, digest: String,
                       phases: Map[String, Double], traced: Boolean,
                       layer: Map[String, Double])

final case class Result(setupS: Double, setupParts: Map[String, Any],
                        ops: Seq[OpRec], passes: Seq[(Int, Boolean, Double)],
                        e2e: Map[String, Double], layer: Map[String, Double],
                        extra: Map[String, Any], inputs: Map[String, Any])

/** Session-wide measurement state shared by the workloads. */
final class Run(val spark: SparkSession, val o: Main.Opts, val cpus: Int) {
  val sc = spark.sparkContext
  val spans = new SpanLog
  val recorder: Option[Recorder] = if (o.trace) Some(new Recorder) else None
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private var heapPeak = 0L

  def gcMs: Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Start an operation's storage accounting from what is stored now. */
  def storageBaseline(): Unit = recorder.foreach(_.resetStored(Bus.storedRddBytes(sc)))

  /** Attach or detach the recorder (traced runs alternate passes). */
  def tracing(on: Boolean): Unit = recorder.foreach { r =>
    Bus.drain(sc)
    if (on) { sc.addSparkListener(r); spark.listenerManager.register(r) }
    else { sc.removeSparkListener(r); spark.listenerManager.unregister(r) }
    Bus.drain(sc)
    r.drainJobs()
  }

  /** Drop every block a query left behind: cached plans and persisted
    * or locally checkpointed RDDs, blocking until they are gone.
    */
  def release(): Unit = {
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** A forced collection between operations, outside every timed span. */
  def collect(): Unit = { Bus.drain(sc); System.gc() }

  /** Reads the heap metric at the end of a pass, outside every timed
    * span: the heap still in use after a collection. Spark's
    * ContextCleaner frees the broadcasts and shuffles whose references a
    * collection cleared only when it next polls its queue (every 100 ms),
    * so the heap is read after a second collection that follows that.
    */
  def measureHeap(): Unit = {
    collect()
    Thread.sleep(300)
    collect()
    heapPeak = math.max(heapPeak,
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }
  def heapPeakMb: Double = heapPeak / 1048576.0

  /** Layer numbers for the jobs recorded since the last call, which
    * belong to the operation `query` whose children are `phases` (span
    * id, name, start, end). Adds job and stage spans beneath the phase
    * each job started in.
    */
  def layerOf(rootSpan: Int, query: String, phases: Seq[(Int, String, Long, Long)],
              finalPlan: Seq[Map[String, Long]]): Map[String, Double] = recorder match {
    case None => Map.empty
    case Some(r) =>
      Bus.drain(sc)
      val heldAfter = Bus.storedRddBytes(sc)
      val (jobs, stages, agg, plans) = r.drainJobs()
      val stageById = stages.groupBy(_.id)
      val jobIvs = mutable.ArrayBuffer[(Long, Long)]()
      var nStages = 0; var buildJobs = 0
      jobs.foreach { j =>
        val end = if (j.end < 0) Clock.now else j.end
        jobIvs += ((j.start, end))
        val ph = phases.find { case (_, _, a, b) => j.start >= a && j.start <= b }
          .orElse(phases.lastOption)
        if (ph.exists(_._2 == "build")) buildJobs += 1
        // The job group links a job to the query that ran it; streaming
        // jobs carry the stream's own group and belong to the pass.
        val owner = if (j.group.contains('/')) j.group else query
        val jid = spans.add(ph.map(_._1).getOrElse(rootSpan), s"job ${j.id}", "job",
                            owner, j.start, end)
        j.stages.flatMap(s => stageById.getOrElse(s, Nil)).foreach { st =>
          nStages += 1
          spans.add(jid, s"stage ${st.id}.${st.attempt}", "stage", owner, st.start, st.end)
        }
      }
      val a = agg.values
      def sum(f: StageAgg => Long): Double = a.map(f).sum.toDouble
      val action = phases.find(_._2 == "action")
      val gap = action.map { case (_, _, s, e) =>
        (e - s - Trace.covered(jobIvs.toSeq, s, e)) / 1e9 }.getOrElse(0.0)
      val allPlans = plans ++ finalPlan
      def phase(k: String) = allPlans.map(_.getOrElse(k, 0L)).sum.toDouble
      val tasks = sum(_.tasks)
      Map(
        "jobs" -> jobs.size.toDouble, "build_jobs" -> buildJobs.toDouble,
        "stages" -> nStages.toDouble, "tasks" -> tasks,
        "task_retries" -> (sum(_.retries) + sum(_.failed)),
        "empty_tasks" -> sum(_.empty),
        "sched_gap_s" -> gap,
        "exec_run_s" -> sum(_.runMs) / 1e3, "exec_cpu_s" -> sum(_.cpuNs) / 1e9,
        "shuffle_read_mb" -> sum(_.shufRead) / 1048576.0,
        "shuffle_write_mb" -> sum(_.shufWrite) / 1048576.0,
        "spill_mb" -> sum(_.spill) / 1048576.0,
        "scan_input_mb" -> sum(_.inBytes) / 1048576.0,
        "scan_rows" -> sum(_.inRows),
        "plan_analysis_ms" -> phase("analysis"),
        "plan_optimize_ms" -> phase("optimization"),
        "plan_physical_ms" -> phase("planning"),
        "sql_executions" -> allPlans.size.toDouble,
        "storage_peak_mb" -> r.peakBytes / 1048576.0,
        "storage_held_mb" -> heldAfter / 1048576.0)
  }

  def write(res: Result, setupS: Double, sessionS: Double): Unit = {
    val selfT = Trace.selfTimes(spans.all)
    val spanFile = o.out.stripSuffix(".json") + ".spans.json"
    val w0 = new java.io.PrintWriter(spanFile)
    try w0.print(Json(spans.all.map(s => Map(
      "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "kind" -> s.kind,
      "query" -> s.query, "start_ns" -> s.start, "end_ns" -> s.end,
      "dur_ms" -> s.dur / 1e6, "self_ms" -> selfT(s.id) / 1e6))))
    finally w0.close()
    val doc = Map(
      "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds,
      "trace" -> o.trace, "cpus" -> cpus,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "spark_version" -> spark.version,
      "setup_s" -> setupS,
      "setup_parts" -> (res.setupParts + ("session_s" -> sessionS)),
      "inputs" -> res.inputs,
      "end_to_end" -> (res.e2e + ("setup_s" -> setupS) + ("heap_peak_mb" -> heapPeakMb)),
      "per_layer" -> res.layer,
      "extra" -> res.extra,
      "passes" -> res.passes.map { case (i, traced, s) =>
        Map("pass" -> i, "traced" -> traced, "wall_s" -> s) },
      "ops" -> res.ops.map(r => Map(
        "name" -> r.name, "pass" -> r.pass, "wall_s" -> r.wallS, "ok" -> r.ok,
        "error" -> r.error, "rows" -> r.rows, "digest" -> r.digest,
        "phases_s" -> r.phases, "traced" -> r.traced, "layer" -> r.layer)),
      "spans_file" -> new java.io.File(spanFile).getName)
    val w = new java.io.PrintWriter(o.out)
    try w.print(Json(doc)) finally w.close()
  }

  def errorText(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator
      .take(2).mkString(" | ").take(300)

  def safely[A](body: => A): Either[String, A] =
    try Right(body) catch { case NonFatal(e) => Left(errorText(e)) }
}
