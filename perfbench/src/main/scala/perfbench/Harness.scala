package perfbench

import java.io.{File, PrintWriter}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.functions.{col, count, expr, lit, xxhash64}
import org.apache.spark.sql.streaming.Trigger

import graft.{Caches, SparkEntry}
import graft.operators.MinHashLsh
import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.CandidatePair

/** One benchmark run inside one JVM: set up a session several times,
  * check the chain's outputs once, time the chain repeatedly, then feed
  * the streaming near-dup operator open loop. With trace=1 it also
  * times each layer's public entry point and splits every call into
  * Spark jobs through a listener it registers. It writes `result.json`
  * (and `trace.jsonl` when traced) into `out`; run.py turns those into
  * the reported metrics and checks the outputs against an independent
  * reference.
  *
  * Args are key=value: corpus, quarter (a quarter-size corpus), warm, out, seconds,
  * trace, inject (comma list of throw:<query> / wrong:<query>, self-test only).
  */
object Harness {

  val Chain: Seq[String] =
    Seq("similar_pairs", "pairs_symmetric", "near_dup_groups", "dedup_keep_best")
  // the stream feeds the corpus's first StreamDocs docs (run.py's
  // STREAM_DOCS, which its reference covers) at StreamRate docs/s
  val StreamDocs = 300
  val StreamRate = 50.0

  // ---------------------------------------------------------------- json

  def jstr(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def jnum(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else String.format(java.util.Locale.ROOT, "%.6f", Double.box(d))
  def jobj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => jstr(k) + ":" + v }.mkString("{", ",", "}")
  def jarr(vs: Iterable[String]): String = vs.mkString("[", ",", "]")

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  // ---------------------------------------------------------- listener

  case class JobRec(id: Int, start: Long, var end: Long, callSite: String,
                    execution: Long, stages: Seq[Int])
  case class StageAgg(var taskNs: Long = 0, var gcMs: Long = 0, var shuffleW: Long = 0,
                      var spill: Long = 0, var peakMem: Long = 0)

  /** Job intervals, per-stage task metrics and per-execution final plan
    * node counts, as Spark reports them. */
  class Recorder extends SparkListener {
    val jobs = new ConcurrentHashMap[Int, JobRec]()
    val stages = new ConcurrentHashMap[Int, StageAgg]()
    val plans = new ConcurrentHashMap[Long, SparkPlanInfo]()
    val planExec = new ConcurrentHashMap[Long, Long]() // execution id -> start ms
    val execEnd = new ConcurrentHashMap[Long, Long]()  // execution id -> end ms

    // a job's call site is its result stage's name ("count at X.scala:N")
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.put(e.jobId, JobRec(e.jobId, e.time, -1L,
        e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse(""),
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .map(_.toLong).getOrElse(-1L),
        e.stageIds))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val a = stages.computeIfAbsent(e.stageId, _ => StageAgg())
        a.synchronized {
          a.taskNs += m.executorRunTime * 1000000L
          a.gcMs += m.jvmGCTime
          a.shuffleW += m.shuffleWriteMetrics.bytesWritten
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        plans.put(s.executionId, s.sparkPlanInfo); planExec.put(s.executionId, s.time)
      case u: SparkListenerSQLAdaptiveExecutionUpdate =>
        plans.put(u.executionId, u.sparkPlanInfo)
      case x: SparkListenerSQLExecutionEnd => execEnd.put(x.executionId, x.time)
      case _ =>
    }

    /** (execution id, start ms, end ms) of SQL executions started in [t0, t1]. */
    def executionsIn(t0: Long, t1: Long): Seq[(Long, Long, Long)] =
      planExec.asScala.toSeq.collect { case (id, t) if t >= t0 && t <= t1 =>
        (id: Long, t: Long, Option(execEnd.get(id)).map(_.longValue).getOrElse(t1))
      }.sortBy(_._1)
    def jobsIn(t0: Long, t1: Long): Seq[JobRec] =
      jobs.values.asScala.filter(j => j.start >= t0 && j.start <= t1).toSeq.sortBy(_.id)
    def agg(js: Seq[JobRec]): StageAgg = {
      val out = StageAgg()
      js.flatMap(_.stages).distinct.foreach { s =>
        Option(stages.get(s)).foreach { a =>
          out.taskNs += a.taskNs; out.gcMs += a.gcMs; out.shuffleW += a.shuffleW
          out.spill += a.spill; out.peakMem = math.max(out.peakMem, a.peakMem)
        }
      }
      out
    }
    /** Node-name counts over the final plans of executions started in [t0, t1]. */
    def planNodes(t0: Long, t1: Long): Map[String, Int] = {
      val counts = mutable.Map.empty[String, Int].withDefaultValue(0)
      def walk(p: SparkPlanInfo): Unit = {
        counts(p.nodeName) += 1; p.children.foreach(walk)
      }
      planExec.asScala.foreach { case (id, t) =>
        if (t >= t0 && t <= t1) Option(plans.get(id)).foreach(walk)
      }
      counts.toMap
    }
  }

  /** Union length (ms) of intervals clipped to [t0, t1]. */
  def covered(iv: Seq[(Long, Long)], t0: Long, t1: Long): Long = {
    val s = iv.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L; var cs = -1L; var ce = -1L
    s.foreach { case (a, b) =>
      if (a > ce) { if (ce > cs) total += ce - cs; cs = a; ce = b }
      else ce = math.max(ce, b)
    }
    if (ce > cs) total += ce - cs
    total
  }

  case class Span(name: String, parent: String, start: Long, end: Long,
                  counts: Seq[(String, String)])

  /** One timed query execution; rep 0 is the untimed warm/check rep. */
  case class Op(query: String, rep: Int, traced: Boolean, seconds: Double, status: String,
                planMs: Double, heldMb: Double, releaseS: Double)

  // ------------------------------------------------------------ session

  def session(cores: Int, out: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.network.timeout", "600s")
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.legacy.allowHashOnMapType", "true")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Force a frame the way graft.Bench does: hash every output column
    * and xor the hashes, so no projection is pruned. */
  def forceHash(df: DataFrame): Long = forceHashPlanned(df)._1

  /** [[forceHash]] plus the forcing query's analysis + optimization +
    * planning time in ms (its QueryPlanningTracker phases). */
  def forceHashPlanned(df: DataFrame): (Long, Double) = {
    val h = df.select(xxhash64(df.columns.map(col).toIndexedSeq: _*).as("h")).agg(expr("bit_xor(h)"))
    val v = h.head().getLong(0)
    (v, h.queryExecution.tracker.phases.values.map(_.durationMs).sum.toDouble)
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  // ------------------------------------------------------------ stream

  case class StreamResult(pairs: Seq[CandidatePair], latMs: Seq[Double], docsPerBusyS: Double,
                          genLateMaxMs: Double, backlogMax: Int,
                          progress: Seq[(Long, Long, Long, Long, Long, Long)],
                          stateRows: Long, stateBytes: Long)

  /** Open-loop feed: docs(i) is due at i / rate and is pushed into a
    * MemoryStream by this thread when due, whatever the query is doing.
    * A doc's latency runs from its due time to the end of the sink call
    * of the micro-batch that verified it. */
  def runStream(spark: SparkSession, docs: Array[(Long, String)], rate: Double, ckpt: String,
                trigger: Trigger): StreamResult = {
    val ms = MemoryStream[(Long, String)](Encoders.tuple(Encoders.scalaLong, Encoders.STRING),
      spark.sqlContext)
    val sinkEnd = new ConcurrentHashMap[Long, Long]()
    val out = new ConcurrentLinkedQueue[CandidatePair]()
    val sink: (Dataset[CandidatePair], Long) => Unit = (df, id) => {
      df.collect().foreach(out.add)
      sinkEnd.put(id, System.nanoTime())
    }
    val q = StreamingOps.nearDupStream(ms.toDS(), maxBucket = Int.MaxValue)
      .writeStream.option("checkpointLocation", ckpt).trigger(trigger).foreachBatch(sink).start()
    val total = docs.length
    val start = System.nanoTime() + 200000000L
    val due = Array.tabulate(total)(i => start + (i * 1e9 / rate).toLong)
    val chunkOff = mutable.ArrayBuffer.empty[(Long, Int, Int, Long)] // offset, lo, hi, added at
    var next = 0
    var lateMax = 0L
    while (next < total) {
      val now = System.nanoTime()
      var hi = next
      while (hi < total && due(hi) <= now) hi += 1
      if (hi > next) {
        val off = ms.addData(docs.slice(next, hi).toSeq).json().toLong
        val added = System.nanoTime()
        lateMax = math.max(lateMax, added - due(next))
        chunkOff += ((off, next, hi, added))
        next = hi
      } else {
        val waitMs = math.min(5L, (due(next) - now) / 1000000L)
        if (waitMs > 0) Thread.sleep(waitMs)
      }
    }
    q.processAllAvailable()
    q.stop()
    val prog = q.recentProgress.toSeq.filter(_.numInputRows > 0)
    val lat = mutable.ArrayBuffer.empty[Double]
    var backlogMax = 0
    val rows = prog.map { p =>
      val src = p.sources.head
      val lo = Option(src.startOffset).map(_.toLong).getOrElse(-1L)
      val hi = src.endOffset.toLong
      val end = sinkEnd.get(p.batchId)
      var docsUpTo = 0
      chunkOff.foreach { case (off, a, b, _) =>
        if (off > lo && off <= hi) (a until b).foreach(i => lat += (end - due(i)) / 1e6)
        if (off <= hi) docsUpTo = math.max(docsUpTo, b)
      }
      val addedBy = chunkOff.filter(_._4 <= end).map(_._3).foldLeft(0)(math.max)
      backlogMax = math.max(backlogMax, addedBy - docsUpTo)
      val d = p.durationMs
      def dur(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      val st = p.stateOperators.headOption
      (p.batchId, p.numInputRows, dur("triggerExecution"), dur("addBatch"),
        st.map(_.numRowsTotal).getOrElse(0L), st.map(_.memoryUsedBytes).getOrElse(0L))
    }
    // docs verified per second the query was busy (batch durations summed)
    val busyMs = rows.map(_._3).sum
    StreamResult(out.asScala.toSeq, lat.toSeq,
      if (busyMs > 0) rows.map(_._2).sum * 1000.0 / busyMs else Double.NaN,
      lateMax / 1e6, backlogMax, rows,
      rows.lastOption.map(_._5).getOrElse(0L), rows.lastOption.map(_._6).getOrElse(0L))
  }

  // -------------------------------------------------------------- main

  def main(argv: Array[String]): Unit = {
    val a = argv.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val corpus = a("corpus"); val quarter = a("quarter"); val warm = a("warm")
    val outDir = a("out")
    val seconds = a("seconds").toDouble
    val trace = a.getOrElse("trace", "0") == "1"
    val cores = Runtime.getRuntime.availableProcessors
    val inject = a.getOrElse("inject", "").split(",").filter(_.nonEmpty).map { s =>
      val i = s.indexOf(':'); s.take(i) -> s.drop(i + 1)
    }.toSet
    new File(outDir).mkdirs()
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    // ---- set-up, several times: session + warm pass (similar_pairs on a
    // small fixed corpus)
    val setupS = mutable.ArrayBuffer.empty[Double]
    val sessionS = mutable.ArrayBuffer.empty[Double]
    val warmS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    val nSetups = 3
    (0 until nSetups).foreach { k =>
      val t0 = System.nanoTime()
      val wall0 = if (k == 0) jvmStart else System.currentTimeMillis()
      spark = session(cores, outDir)
      sessionS += secs(t0)
      val t1 = System.nanoTime()
      forceHash(SparkEntry.queries("similar_pairs")(spark, warm)); Caches.releaseAll(spark)
      warmS += secs(t1)
      setupS += (System.currentTimeMillis() - wall0) / 1e3
      if (k < nSetups - 1) { spark.stop(); SparkSession.clearActiveSession(); SparkSession.clearDefaultSession() }
    }

    def phase(name: String): Unit =
      println(f"[harness] ${(System.currentTimeMillis() - jvmStart) / 1e3}%.1f s: $name")
    phase("set-up done")
    // the listener is attached only while tracing, so plain reps run without it
    val rec = new Recorder
    val spans = mutable.ArrayBuffer.empty[Span]

    // ---- chain reps. Rep 0 is untimed: it warms this corpus (its join
    // strategy and data sizes differ from the warm corpus) and writes each
    // output for run.py to check. Later reps are timed, and their output
    // hashes must equal rep 0's. With trace, reps after rep 0 alternate
    // plain and listener-traced.
    val checkHash = mutable.Map.empty[String, Long]
    val checkStatus = mutable.Map.empty[String, String]
    Chain.foreach(q => checkStatus(q) = "not run")
    val ops = mutable.ArrayBuffer.empty[Op]
    val tBatch = System.nanoTime()
    var rep = 0
    var lastRepS = 0.0
    val queryAt = mutable.Map.empty[(Int, String), (Long, Long)] // wall ms interval per traced query
    val minReps = if (trace) 3 else 2
    def runRep(queries: Seq[String], traced: Boolean): Unit = {
      if (traced) spark.sparkContext.addSparkListener(rec)
      queries.foreach { q =>
        val w0 = System.currentTimeMillis()
        val t0 = System.nanoTime()
        var dt = 0.0
        var planMs = Double.NaN
        val status = try {
          if (inject.contains("throw" -> q) && rep == 1) throw new RuntimeException("injected failure")
          val df = SparkEntry.queries(q)(spark, corpus)
          if (rep == 0) {
            // untimed: hash and write the same cached rows for the check
            val cached = df.cache()
            checkHash(q) = forceHash(cached)
            cached.write.mode("overwrite").parquet(s"$outDir/check/$q")
            cached.unpersist(true)
            checkStatus(q) = "ok"
            "ok"
          } else {
            val (h, pm) = forceHashPlanned(if (inject.contains("wrong" -> q) && rep == 1) df.limit(1) else df)
            dt = secs(t0)
            planMs = pm
            if (checkHash.get(q).contains(h)) "ok" else "wrong"
          }
        } catch { case e: Throwable =>
          if (rep == 0) checkStatus(q) = "threw: " + e.toString.take(300)
          "threw: " + e.toString.take(300)
        }
        if (dt == 0.0) dt = secs(t0)
        if (traced) queryAt((rep, q)) = (w0, System.currentTimeMillis())
        val heldMb = if (traced) spark.sparkContext.getRDDStorageInfo
          .map(i => i.memSize + i.diskSize).sum / (1024.0 * 1024.0) else Double.NaN
        val tRel = System.nanoTime()
        Caches.releaseAll(spark)
        ops += Op(q, rep, traced, dt, status, planMs, heldMb, secs(tRel))
      }
      if (traced) spark.sparkContext.removeSparkListener(rec)
      rep += 1
    }
    while (rep < minReps || (secs(tBatch) + lastRepS <= seconds && rep < 50)) {
      val tr = System.nanoTime()
      runRep(Chain, traced = trace && rep % 2 == 0 && rep > 0)
      lastRepS = secs(tr)
    }
    // similar_pairs, the layer most changes target, gets two plain samples
    while (ops.count(o => o.query == "similar_pairs" && o.rep > 0 && !o.traced) < 2)
      runRep(Seq("similar_pairs"), traced = false)

    phase("chain done")
    // ---- stream: open-loop feed of the corpus's first docs
    val sdocs = spark.read.parquet(s"$corpus/documents.parquet").select("doc_id", "text")
      .orderBy("doc_id").limit(StreamDocs).collect().map(r => (r.getLong(0), r.getString(1)))
    val sr = try {
      val wdocs = spark.read.parquet(s"$warm/documents.parquet").select("doc_id", "text")
        .orderBy("doc_id").limit(100).collect().map(r => (r.getLong(0), r.getString(1)))
      runStream(spark, wdocs, 400.0, s"$outDir/stream-warm", Trigger.ProcessingTime(0)) // untimed warm-up
      // a fixed trigger period: batch boundaries follow the clock, not the
      // previous batch's length, so latency does not feed back on itself
      Right(runStream(spark, sdocs, StreamRate, s"$outDir/stream", Trigger.ProcessingTime(1000)))
    } catch { case e: Throwable => Left("threw: " + e.toString.take(300)) }
    sr.foreach { r =>
      val w = new PrintWriter(s"$outDir/stream_pairs.csv")
      r.pairs.foreach(p => w.println(s"${p.id_l},${p.id_r},${java.lang.Double.toString(p.jaccard)}"))
      w.close()
    }

    phase("stream done")
    // ---- traced-only layers
    val layers = mutable.ArrayBuffer.empty[(String, Double)]
    if (trace) {
      val tr = ops.filter(o => o.traced && o.status == "ok")
      layers += ("plan.ms" -> tr.map(_.planMs).sum)
      layers += ("checkpoint.mb" -> tr.map(_.heldMb).sum)
      layers += ("release.s" -> tr.map(_.releaseS).sum)
      spark.sparkContext.addSparkListener(rec)
      traceLayers(spark, rec, spans, layers, corpus, quarter, ops.toSeq, queryAt.toMap)
    }

    val vmHwm = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

    val streamJson = sr match {
      case Left(err) => jobj(Seq("status" -> jstr(err)))
      case Right(r) => jobj(Seq(
        "status" -> jstr("ok"),
        "latency_ms" -> jarr(r.latMs.map(jnum)),
        "docs_per_busy_s" -> jnum(r.docsPerBusyS),
        "gen_late_ms_max" -> jnum(r.genLateMaxMs),
        "backlog_docs_max" -> r.backlogMax.toString,
        "state_rows" -> r.stateRows.toString,
        "state_bytes" -> r.stateBytes.toString,
        "batches" -> jarr(r.progress.map { case (id, n, trig, add, _, _) =>
          jarr(Seq(id.toString, n.toString, trig.toString, add.toString)) })))
    }
    val result = jobj(Seq(
      "box" -> jobj(Seq(
        "nproc" -> Runtime.getRuntime.availableProcessors.toString,
        "heap_mb" -> (Runtime.getRuntime.maxMemory / (1024 * 1024)).toString,
        "jdk" -> jstr(System.getProperty("java.version")),
        "spark" -> jstr(spark.version))),
      "setup_s" -> jarr(setupS.map(jnum)),
      "setup_session_s" -> jarr(sessionS.map(jnum)),
      "setup_warm_s" -> jarr(warmS.map(jnum)),
      "check" -> jobj(Chain.map(q => q -> jstr(checkStatus(q)))),
      "ops" -> jarr(ops.map(o => jobj(Seq("query" -> jstr(o.query), "rep" -> o.rep.toString,
        "traced" -> o.traced.toString, "seconds" -> jnum(o.seconds), "status" -> jstr(o.status))))),
      "stream" -> streamJson,
      "peak_rss_mb" -> jnum(vmHwm),
      "layers" -> jobj(layers.toSeq.map { case (k, v) => k -> jnum(v) })))
    val w = new PrintWriter(s"$outDir/result.json"); w.println(result); w.close()
    if (trace) {
      val tw = new PrintWriter(s"$outDir/trace.jsonl")
      spans.foreach(s => tw.println(jobj(Seq("name" -> jstr(s.name), "parent" -> jstr(s.parent),
        "start_ms" -> s.start.toString, "end_ms" -> s.end.toString) ++
        (if (s.counts.isEmpty) Nil else Seq("counts" -> jobj(s.counts))))))
      tw.close()
    }
    phase("results written")
    spark.stop()
    phase("session stopped")
  }

  // ------------------------------------------------------------- trace

  /** Per-layer spans and counts. Each layer is timed around the
    * benchmark's own call into its public function; Spark jobs inside
    * a call become child spans named by call site. */
  def traceLayers(spark: SparkSession, rec: Recorder, spans: mutable.ArrayBuffer[Span],
                  layers: mutable.ArrayBuffer[(String, Double)], corpus: String, quarter: String,
                  ops: Seq[Op],
                  queryAt: Map[(Int, String), (Long, Long)]): Unit = {
    def put(k: String, v: Double): Unit = layers += (k -> v)
    def timed[T](name: String)(body: => T): (T, Long, Long) = {
      val t0 = System.currentTimeMillis(); val r = body; val t1 = System.currentTimeMillis()
      spans += Span(name, "layers", t0, t1, Nil); (r, t0, t1)
    }
    def jobSpans(parent: String, t0: Long, t1: Long): Seq[JobRec] = {
      val js = rec.jobsIn(t0, t1)
      js.foreach(j => spans += Span(s"job:${j.callSite}", parent, j.start, j.end,
        Seq("job_id" -> j.id.toString)))
      js
    }
    val mb = 1024.0 * 1024.0
    val docs = graft.operators.Par.widen(spark.read.parquet(s"$corpus/documents.parquet"))

    // sketch: signatures, forced by an eager local checkpoint
    val (sigs, s0, s1) = timed("sketch")(MinHashLsh.signatures(docs).localCheckpoint())
    Thread.sleep(50) // listener events trail the action
    val sk = rec.agg(jobSpans("sketch", s0, s1))
    put("sketch.self_s", (s1 - s0) / 1e3); put("sketch.rows_out", sigs.count().toDouble)
    put("sketch.task_s", sk.taskNs / 1e9)

    // band explode from the materialized signatures
    val (bands, b0, b1) = timed("band")(MinHashLsh.bandsFromSignatures(sigs).localCheckpoint())
    jobSpans("band", b0, b1)
    put("band.self_s", (b1 - b0) / 1e3); put("band.rows_out", bands.count().toDouble)

    // band self-join, raw and distinct
    val (raw, r0, r1) = timed("selfjoin")(
      MinHashLsh.candidatesFromBands(bands, dedupe = false).agg(count(lit(1))).head().getLong(0))
    Thread.sleep(50)
    val rj = rec.agg(jobSpans("selfjoin", r0, r1))
    val (dist, d0, d1) = timed("selfjoin.distinct")(
      MinHashLsh.candidatesFromBands(bands, dedupe = true).agg(count(lit(1))).head().getLong(0))
    Thread.sleep(50)
    jobSpans("selfjoin.distinct", d0, d1)
    put("selfjoin.raw_pairs", raw.toDouble); put("selfjoin.distinct_pairs", dist.toDouble)
    put("selfjoin.dup_ratio", if (dist > 0) raw.toDouble / dist else Double.NaN)
    put("selfjoin.self_s", (r1 - r0) / 1e3); put("selfjoin.distinct_s", (d1 - d0) / 1e3)
    put("selfjoin.shuffle_mb", rj.shuffleW / mb); put("selfjoin.spill_mb", rj.spill / mb)
    sigs.unpersist(true); bands.unpersist(true)

    // prefilter survivors: estimatedPairs rows at the prefilter's agreement bound
    val minEst = graft.Config.estPrefilterMinCount(graft.Config.Threshold).toDouble / graft.Config.NumHashes
    val survivors = MinHashLsh.estimatedPairs(docs).filter(col("est_jaccard") >= minEst).count()
    put("prefilter.survivors", survivors.toDouble)
    put("prefilter.pass_ratio", if (dist > 0) survivors.toDouble / dist else Double.NaN)

    // similarPairs split by SQL execution: signature checkpoint, prefilter checkpoint, verify
    val (verified, v0, v1) = timed("similar_pairs") {
      val df = MinHashLsh.similarPairs(docs)
      df.agg(count(lit(1))).head().getLong(0)
    }
    Thread.sleep(50)
    val spJobs = jobSpans("similar_pairs", v0, v1)
    // similarPairs runs its SQL executions in order: the signature
    // checkpoint, the prefilter checkpoint, then verify (the benchmark's
    // count, with any broadcast sub-executions); AQE may split each into
    // several jobs. A layer's time is its executions' wall intervals.
    val execs = rec.executionsIn(v0, v1)
    execs.foreach { case (id, a0, a1) =>
      spans += Span(s"execution:$id", "similar_pairs", a0, a1, Nil) }
    val ids = execs.map(_._1)
    val preJobs = spJobs.filter(j => ids.lift(1).contains(j.execution))
    val verifyJobs = spJobs.filter(j => ids.drop(2).contains(j.execution))
    def iv(xs: Seq[(Long, Long, Long)]) = xs.map(x => (x._2, x._3))
    val spanMs = (v1 - v0).toDouble
    val skMs = covered(iv(execs.take(1)), v0, v1)
    val preMs = covered(iv(execs.slice(1, 2)), v0, v1)
    val verMs = covered(iv(execs.drop(2)), v0, v1)
    val allMs = covered(iv(execs), v0, v1)
    val pre = rec.agg(preJobs); val ver = rec.agg(verifyJobs)
    val nodes = rec.planNodes(v0, v1)
    Caches.releaseAll(spark)
    put("similar_pairs.traced_s", spanMs / 1e3)
    put("similar_pairs.sketch_s", skMs / 1e3)
    put("prefilter.self_s", preMs / 1e3); put("prefilter.spill_mb", pre.spill / mb)
    put("prefilter.shuffle_mb", pre.shuffleW / mb)
    put("verify.self_s", verMs / 1e3); put("verify.pairs", verified.toDouble)
    put("verify.useful_ratio", if (raw > 0) verified.toDouble / raw else Double.NaN)
    put("verify.shuffle_bytes_per_pair",
      if (verified > 0) ver.shuffleW.toDouble / verified else Double.NaN)
    put("similar_pairs.attributed_share", allMs / spanMs)
    put("similar_pairs.unattributed_s", (spanMs - allMs) / 1e3)
    put("plan.exchanges", nodes.filter(_._1.contains("Exchange")).values.sum.toDouble)
    put("plan.bcast_joins", nodes.getOrElse("BroadcastHashJoin", 0).toDouble +
      nodes.getOrElse("BroadcastNestedLoopJoin", 0))
    put("plan.smj_joins", nodes.getOrElse("SortMergeJoin", 0).toDouble)

    // whole chain, traced reps: per-query spans, checkpoint and runtime totals
    ops.filter(_.traced).map(_.rep).lastOption.foreach { r =>
      val times = ops.filter(_.rep == r).map(o => o.query -> o.seconds).toMap
      val spT = times.getOrElse("similar_pairs", Double.NaN)
      put("symmetrize.self_s", times.getOrElse("pairs_symmetric", Double.NaN) - spT)
      put("group.self_s", times.getOrElse("near_dup_groups", Double.NaN) - spT)
      put("keepbest.self_s", times.getOrElse("dedup_keep_best", Double.NaN) - spT)
      var allJobs = Seq.empty[JobRec]
      Harness.Chain.foreach { q =>
        queryAt.get((r, q)).foreach { case (t0, t1) =>
          spans += Span(q, "chain", t0, t1, Nil)
          val js = jobSpans(q, t0, t1)
          allJobs ++= js
          if (q == "near_dup_groups") put("group.jobs", js.size.toDouble)
        }
      }
      val tot = rec.agg(allJobs)
      put("checkpoint.count", allJobs.filter(_.callSite.startsWith("localCheckpoint"))
        .map(_.execution).distinct.size.toDouble)
      put("runtime.task_s", tot.taskNs / 1e9); put("runtime.gc_s", tot.gcMs / 1e3)
      put("runtime.jobs", allJobs.size.toDouble)
      put("runtime.stages", allJobs.flatMap(_.stages).distinct.size.toDouble)
      put("runtime.peak_task_mem_mb", tot.peakMem / mb)
      put("runtime.shuffle_mb", tot.shuffleW / mb); put("runtime.spill_mb", tot.spill / mb)
    }

    // scale: similar_pairs at a quarter of the corpus
    {
      val small = (0 until 2).map { _ =>
        val t0 = System.nanoTime(); forceHash(SparkEntry.queries("similar_pairs")(spark, quarter))
        val d = secs(t0); Caches.releaseAll(spark); d
      }
      val full = ops.filter(o => o.query == "similar_pairs" && o.rep > 0 && !o.traced &&
        o.status == "ok").map(_.seconds)
      put("scale.similar_pairs_quarter_s", median(small))
      put("chain.exponent", math.log(median(full) / median(small)) / math.log(4))
    }

    // contention canary: fixed CPU + scheduler work (graft.Bench's shape)
    val canary = (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      spark.range(0L, 32L * 1024 * 1024, 1L, 32).selectExpr("bit_xor(xxhash64(id))").collect()
      secs(t0)
    }
    put("runtime.canary_s", median(canary))
  }
}
