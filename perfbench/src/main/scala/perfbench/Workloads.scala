package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.SparkEntry

trait Workload {
  def name: String
  def run(r: Run): Result
}

object Workloads {
  /** Curation: the flagship q_pipeline_run and two near-dedup funnels. */
  val CurateQueries: Seq[String] = Seq(
    "q_pipeline_run", "q_dedup_minhash", "q_simhash_hamming")

  val byName: Map[String, Workload] = Seq[Workload](
    new BatchWorkload("curate_10xd", CurateQueries, nominalPassS = 6.5, (s, in, work) => {
      // The 10x-diverse rung, built by the program's own rung generator:
      // every document regenerated as a seeded word mixture (no verbatim
      // copies), embeddings clustered.
      val rung = s"$work/rung"
      graft.ScaleGen.diverseDocuments(s, s.read.parquet(s"$in/documents.parquet"), 10)
        .repartition(s.sparkContext.defaultParallelism)
        .write.parquet(s"$rung/documents.parquet")
      graft.ScaleGen.clusteredEmbeddings(s, s.read.parquet(s"$in/embeddings.parquet"), 10)
        .repartition(s.sparkContext.defaultParallelism)
        .write.parquet(s"$rung/embeddings.parquet")
      rung
    }),
    new StreamWorkload("stream_ingest", nominalPassS = 10.5),
  ).map(w => w.name -> w).toMap

  def inputsOf(spark: SparkSession, dir: String): Map[String, Any] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".parquet")).map { p =>
        val bytes = if (p.isDirectory) p.listFiles().filter(_.getName.endsWith(".parquet"))
          .map(_.length).sum else p.length
        p.getName.stripSuffix(".parquet") ->
          Map("rows" -> spark.read.parquet(p.getPath).count(), "bytes" -> bytes)
      }.toMap

  def timeS[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime(); val a = body; (a, (System.nanoTime() - t0) / 1e9)
  }

  def medianOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  /** Layer numbers summed over each traced pass (median over passes). */
  val PassTotals: Seq[String] = Seq("build_s", "plan_s", "release_s", "sched_gap_s",
    "exec_run_s", "exec_cpu_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
    "scan_input_mb", "scan_rows", "task_retries", "gc_s", "plan_analysis_ms",
    "plan_optimize_ms", "plan_physical_ms")
  /** Layer numbers averaged per query (per micro-batch on the stream). */
  val PerUnit: Seq[String] = Seq("jobs", "build_jobs", "stages", "tasks")
  /** PipelineStream's own layer: not exercised by the batch workloads. */
  val StreamOnly: Seq[String] = Seq("add_batch_ms", "source_ms", "plan_batch_ms",
    "commit_ms", "batch_jobs", "batch_growth", "ledger_bytes_per_input_byte")

  /** The per-layer metrics both kinds of workload share, from the traced
    * operations `tr` over `units` queries or micro-batches.
    */
  def layerMetrics(tr: Seq[OpRec], units: Int, tracedPassS: Double,
                   plainPassS: Double, cpus: Int): Map[String, Double] = {
    def total(k: String) = tr.map(_.layer.getOrElse(k, 0.0)).sum
    def perPass(k: String) =
      medianOr0(tr.groupBy(_.pass).values.map(_.map(_.layer.getOrElse(k, 0.0)).sum).toSeq)
    def maxOf(k: String) = tr.map(_.layer.getOrElse(k, 0.0)).max
    val sums = PassTotals.map(k => k -> perPass(k)).toMap
    sums ++ PerUnit.map(k => k -> total(k) / math.max(1, units)) ++
      StreamOnly.map(_ -> 0.0) ++ Map(
        "empty_task_frac" -> total("empty_tasks") / math.max(1.0, total("tasks")),
        "core_busy_frac" -> sums("exec_run_s") / (tracedPassS * cpus),
        "storage_peak_mb" -> maxOf("storage_peak_mb"),
        "storage_held_mb" -> maxOf("storage_held_mb"),
        "trace_overhead_s" -> (tracedPassS - plainPassS))
  }
}

/** One client in a closed loop over a fixed query list: each pass runs
  * every query once in a seeded order; a query's next one starts only
  * after it has finished and released its blocks.
  */
final class BatchWorkload(val name: String, queries: Seq[String], nominalPassS: Double,
                          prepare: (SparkSession, String, String) => String)
    extends Workload {
  import Workloads._

  def runQuery(r: Run, q: String, dir: String, pass: Int, traced: Boolean): OpRec = {
    val fn = SparkEntry.queries(q)
    val qid = s"$pass/$q"
    r.sc.setJobGroup(qid, q)
    if (traced) r.storageBaseline()
    val root = r.spans.newId()
    val gc0 = r.gcMs
    val t0 = Clock.now
    var t1, t2, t3 = t0
    var out: Either[String, Digest] = Left("not run")
    var finalPlan: Seq[Map[String, Long]] = Nil
    out = r.safely {
      val df = fn(r.spark, dir); t1 = Clock.now
      df.queryExecution.executedPlan; t2 = Clock.now
      val d = Digest.of(df); t3 = Clock.now
      finalPlan = Seq(df.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs })
      d
    }
    if (out.isLeft) { val t = Clock.now; if (t1 == t0) t1 = t; if (t2 == t0) t2 = t; if (t3 == t0) t3 = t }
    r.release()
    val t4 = Clock.now
    r.sc.clearJobGroup()
    val gcS = (r.gcMs - gc0) / 1e3
    val phases = Seq(("build", t0, t1), ("plan", t1, t2), ("action", t2, t3),
                     ("release", t3, t4))
    val ids = phases.map { case (n, a, b) => (r.spans.add(root, n, "phase", qid, a, b), n, a, b) }
    r.spans.put(Span(root, -1, q, "query", qid, t0, t4))
    val layer = if (traced) r.layerOf(root, qid, ids, finalPlan) ++ Map(
      "gc_s" -> gcS, "build_s" -> (t1 - t0) / 1e9, "plan_s" -> (t2 - t1) / 1e9,
      "release_s" -> (t4 - t3) / 1e9) else Map.empty[String, Double]
    r.collect()
    OpRec(q, pass, (t4 - t0) / 1e9, out.isRight, out.left.getOrElse(""),
          out.map(_.rows).getOrElse(-1L), out.map(_.hex).getOrElse(""),
          phases.map { case (n, a, b) => n -> (b - a) / 1e9 }.toMap, traced, layer)
  }

  def run(r: Run): Result = {
    val (dir, prepS) = timeS(prepare(r.spark, r.o.input, r.o.work))
    val inputs = inputsOf(r.spark, dir)
    val ops = mutable.ArrayBuffer[OpRec]()
    // Warm-up pass: JIT, codegen and file listings; checked, not timed.
    val (warm, warmS) = timeS(queries.map(q => runQuery(r, q, dir, 0, traced = false)))
    ops ++= warm
    r.measureHeap()
    val rng = new scala.util.Random(r.o.seed)
    val passes = mutable.ArrayBuffer[(Int, Boolean, Double)]()
    // The JIT keeps warming through a short run, so later passes are
    // faster: a pass count that varied with the clock would move the
    // reported medians. The count is fixed instead, sized so the passes
    // fill --seconds at the workload's nominal pass time.
    val nPasses = math.max(2, math.round(r.o.seconds / nominalPassS).toInt)
    var pass = 1
    while (pass <= nPasses) {
      val traced = r.o.trace && pass % 2 == 0
      r.tracing(traced)
      val recs = rng.shuffle(queries).map(q => runQuery(r, q, dir, pass, traced))
      ops ++= recs
      r.measureHeap()
      passes += ((pass, traced, recs.map(_.wallS).sum))
      pass += 1
    }
    r.tracing(false)
    val measured = ops.filter(_.pass > 0)
    val plain = measured.filterNot(_.traced)
    val plainPasses = passes.filterNot(_._2).map(_._3)
    val (tp, tv) = Stats.tail(plain.map(_.wallS).toSeq)
    val e2e = Map(
      "pass_s" -> Stats.median(plainPasses.toSeq),
      "query_p50_s" -> Stats.median(plain.map(_.wallS).toSeq),
      "query_tail_s" -> tv)
    val layer = if (!r.o.trace) Map.empty[String, Double] else {
      val tr = measured.filter(_.traced).toSeq
      layerMetrics(tr, tr.size, Stats.median(passes.filter(_._2).map(_._3).toSeq),
                   Stats.median(plainPasses.toSeq), r.cpus)
    }
    Result(prepS + warmS, Map("prepare_s" -> prepS, "warmup_s" -> warmS),
      ops.toSeq, passes.toSeq, e2e, layer,
      Map("query_tail_pct" -> tp, "query_n" -> plain.size,
          "passes" -> plainPasses.size, "queries" -> queries), inputs)
  }
}

/** One micro-batch's progress report. */
final case class Prog(batchId: Long, rows: Long, startNs: Long, durMs: Map[String, Long])

/** Streaming ingest: the documents table cut into single-file slices,
  * ingested one slice per micro-batch into empty ledgers by
  * PipelineStream.runOnce, after which the folded attrition table is
  * read back. The seed rotates the order in which the slices arrive.
  */
final class StreamWorkload(val name: String, nominalPassS: Double)
    extends Workload {
  import Workloads._

  def run(r: Run): Result = {
    val spark = r.spark
    val progress = mutable.ArrayBuffer[Prog]()
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val start = java.time.Instant.parse(p.timestamp)
        progress.synchronized(progress += Prog(p.batchId,
          p.numInputRows, start.getEpochSecond * 1000000000L + start.getNano,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
      }
    })
    val dir = r.o.input
    val (bench, prepS) = timeS {
      val docsAll = spark.read.parquet(s"$dir/documents.parquet")
      docsAll.filter(col("doc_id") % 50 === 0)
    }
    val inputBytes = new java.io.File(s"$dir/src").listFiles().map(_.length).sum
    val inputs = inputsOf(spark, dir) ++ Map("slices" -> Map(
      "files" -> new java.io.File(s"$dir/src").listFiles().length, "bytes" -> inputBytes))
    val ops = mutable.ArrayBuffer[OpRec]()
    val batchRecs = mutable.ArrayBuffer[(Int, Boolean, Prog)]()
    var ledgerRatio = 0.0

    def pass(i: Int, traced: Boolean): OpRec = {
      val root = s"${r.o.work}/stream/root-$i"
      val qid = s"$i/ingest"
      progress.synchronized(progress.clear())
      if (traced) r.storageBaseline()
      val rootSpan = r.spans.newId()
      val gc0 = r.gcMs
      val t0 = Clock.now
      val out = r.safely {
        val view = graft.streaming.PipelineStream.runOnce(spark, s"$dir/src", bench, root,
          maxFilesPerTrigger = Some(1))
        Digest.of(view)
      }
      val t1 = Clock.now
      r.release()
      val t2 = Clock.now
      val gcS = (r.gcMs - gc0) / 1e3
      org.apache.spark.perfbench.Bus.drain(r.sc)
      val ps = progress.synchronized(progress.filter(_.rows > 0).toVector)
      ps.foreach(p => batchRecs += ((i, traced, p)))
      // Batch spans with their durationMs phases laid out in the order
      // the micro-batch runs them.
      val phaseOrder = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
                           "addBatch", "commitOffsets")
      val phaseSpans = ps.flatMap { p =>
        val end = p.startNs + p.durMs.getOrElse("triggerExecution", 0L) * 1000000L
        val bid = r.spans.add(rootSpan, s"batch ${p.batchId}", "batch", qid, p.startNs, end)
        var at = p.startNs
        phaseOrder.flatMap { ph =>
          p.durMs.get(ph).map { ms =>
            val s = at; at += ms * 1000000L
            (r.spans.add(bid, ph, "phase", qid, s, at), ph, s, at)
          }
        }
      }
      val releaseSpan = (r.spans.add(rootSpan, "release", "phase", qid, t1, t2), "release", t1, t2)
      r.spans.put(Span(rootSpan, -1, "ingest", "query", qid, t0, t2))
      val layer = if (!traced) Map.empty[String, Double] else {
        val l = r.layerOf(rootSpan, qid, phaseSpans :+ releaseSpan, Nil)
        val jobsIn = ps.map { p =>
          val a = p.startNs; val b = a + p.durMs.getOrElse("triggerExecution", 0L) * 1000000L
          r.spans.all.count(s => s.kind == "job" && s.query == qid && s.start >= a && s.start <= b)
        }
        val addSelf = {
          val self = Trace.selfTimes(r.spans.all.filter(_.query == qid))
          phaseSpans.filter(_._2 == "addBatch").map(s => self(s._1)).sum / 1e9
        }
        val gaps = ps.map { p =>
          val a = p.startNs; val b = a + p.durMs.getOrElse("triggerExecution", 0L) * 1000000L
          val jobs = r.spans.all.filter(s => s.kind == "job" && s.query == qid).map(s => (s.start, s.end))
          (b - a - Trace.covered(jobs, a, b)) / 1e9
        }.sum
        l ++ Map("gc_s" -> gcS, "build_s" -> addSelf,
          "plan_s" -> ps.map(_.durMs.getOrElse("queryPlanning", 0L)).sum / 1e3,
          "release_s" -> (t2 - t1) / 1e9, "sched_gap_s" -> gaps,
          "batch_jobs" -> (if (jobsIn.isEmpty) 0.0 else jobsIn.sum.toDouble / jobsIn.size))
      }
      ledgerRatio = dirBytes(new java.io.File(root)).toDouble / inputBytes
      deleteTree(new java.io.File(root))
      r.collect()
      OpRec("ingest", i, (t2 - t0) / 1e9, out.isRight, out.left.getOrElse(""),
        out.map(_.rows).getOrElse(-1L), out.map(_.hex).getOrElse(""),
        Map("ingest_s" -> (t1 - t0) / 1e9, "release_s" -> (t2 - t1) / 1e9), traced,
        layer ++ Map("rows_in" -> ps.map(_.rows).sum.toDouble))
    }

    // Warm-up pass: JIT, codegen and the stream's first start-up; checked,
    // not timed. Then a fixed number of timed passes, as for the batch
    // workloads, at least three so the medians have a middle.
    val (_, warmS) = timeS { r.tracing(false); ops += pass(0, traced = false) }
    r.measureHeap()
    val nPasses = math.max(3, math.round(r.o.seconds / nominalPassS).toInt)
    val passes = mutable.ArrayBuffer[(Int, Boolean, Double)]()
    var i = 1
    while (i <= nPasses) {
      val traced = r.o.trace && i % 2 == 0
      r.tracing(traced)
      val rec = pass(i, traced)
      ops += rec; passes += ((i, traced, rec.wallS)); i += 1
      r.measureHeap()
    }
    r.tracing(false)
    val plain = batchRecs.filter(b => b._1 > 0 && !b._2)
      .map(_._3.durMs.getOrElse("triggerExecution", 0L) / 1e3)
    val plainPasses = passes.filterNot(_._2)
    val rowsIn = ops.filter(o => o.pass > 0 && !o.traced).map(_.layer("rows_in"))
    val (tp, tv) = Stats.tail(plain.toSeq)
    val e2e = Map(
      "pass_s" -> Stats.median(plainPasses.map(_._3).toSeq),
      "query_p50_s" -> Stats.median(plain.toSeq),
      "query_tail_s" -> tv)
    val layer = if (!r.o.trace) Map.empty[String, Double] else {
      val tr = ops.filter(_.traced).toSeq
      val trBatches = batchRecs.filter(_._2).map(_._3).toSeq
      def med(f: Prog => Long) = medianOr0(trBatches.map(f(_).toDouble))
      def ms(b: Prog, k: String) = b.durMs.getOrElse(k, 0L)
      val growth = medianOr0(batchRecs.filter(_._2).groupBy(_._1).values
        .map(_.map(b => ms(b._3, "triggerExecution").toDouble).toSeq)
        .filter(_.size >= 2).map { xs =>
          val k = math.min(3, xs.size / 2)
          (xs.takeRight(k).sum / k) / (xs.take(k).sum / k) }.toSeq)
      layerMetrics(tr, trBatches.size, Stats.median(tr.map(_.wallS)),
                   Stats.median(plainPasses.map(_._3).toSeq), r.cpus) ++ Map(
        "add_batch_ms" -> med(ms(_, "addBatch")),
        "source_ms" -> med(b => ms(b, "getBatch") + ms(b, "latestOffset")),
        "plan_batch_ms" -> med(ms(_, "queryPlanning")),
        "commit_ms" -> med(b => ms(b, "walCommit") + ms(b, "commitOffsets")),
        "batch_jobs" -> medianOr0(tr.map(_.layer.getOrElse("batch_jobs", 0.0))),
        "batch_growth" -> growth,
        "ledger_bytes_per_input_byte" -> ledgerRatio)
    }
    Result(prepS + warmS, Map("prepare_s" -> prepS, "warmup_s" -> warmS),
      ops.toSeq, passes.toSeq, e2e, layer,
      Map("query_tail_pct" -> tp, "query_n" -> plain.size, "passes" -> plainPasses.size,
          "ingest_rows_per_s" -> rowsIn.sum / plainPasses.map(_._3).sum,
          "batch_p50_s" -> Stats.median(plain.toSeq)), inputs)
  }

  def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
    else if (f.getName.endsWith(".parquet")) f.length else 0L

  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
