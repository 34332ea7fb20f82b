package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.SparkEntry
import graft.io.Tables
import graft.runtime.Stage

/** One benchmark run of one workload in this JVM.
  *
  * Order: session set-ups (the first from process start), an untimed cold
  * pass whose outputs are written for checking, an untimed warm pass written
  * for checking, then timed rounds of one cold and one warm pass until
  * `--seconds` have passed and at least [[MinRounds]] rounds ran. A cold
  * pass starts from an empty `Stage` registry and an empty Spark cache; a
  * warm pass keeps the session-shared stages of the pass before it. `System.gc()` runs between passes, never inside one. With
  * `--trace 1` the run also attributes every Spark job, stage and task to
  * its pass and lane and times direct calls into each layer.
  *
  * Raw samples go to `<out>/raw.json`; `run.py` checks the written outputs
  * and turns the samples into metrics.
  */
object Harness {

  val workloads: Map[String, Seq[String]] = Map(
    "rec_daily" -> Seq("q19_hot_topics", "q21_rec_dot", "q40_textrank_rec"),
    "loops_state" -> Seq("q101_pagerank", "q41_streaming_profiles"))

  /** Session set-ups after the first; `setup_s` is their median. */
  val Setups = 3
  /** Timed rounds per run at least: the cold-pass median is then robust to
    * one disturbed pass.
    */
  val MinRounds = 3

  final case class Args(workload: String, input: String, out: String, seconds: Double,
                        trace: Boolean, setupOnly: Boolean, injectFault: Option[String])

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("input"), m("out"), m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", m.getOrElse("setup-only", "0") == "1",
      m.get("inject-fault"))
  }

  val TagKey = "perfbench.tag"

  /** Per-tag Spark figures, filled by [[Tracer]] while tracing is on. */
  final class Acc {
    var jobs, stages, tasks, tasksFailed = 0
    var runMs, cpuNs, shuffleRead, shuffleWrite, spill, gcMs = 0L
    val intervals = mutable.Buffer[(Long, Long)]()
  }

  /** Counts jobs always; with `detailed` on, attributes jobs, stages and
    * task metrics to the `perfbench.tag` local property they ran under.
    */
  final class Tracer extends SparkListener {
    val jobsStarted = new AtomicInteger()
    @volatile var detailed = false
    private val accs = mutable.Map[String, Acc]()
    private val jobTag = mutable.Map[Int, (String, Long)]()
    private val stageTag = mutable.Map[Int, String]()

    private def tagOf(p: java.util.Properties): String =
      Option(p).flatMap(x => Option(x.getProperty(TagKey))).getOrElse("untagged")
    private def acc(tag: String): Acc = accs.getOrElseUpdate(tag, new Acc)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobsStarted.incrementAndGet()
      if (detailed) synchronized {
        val tag = tagOf(e.properties)
        acc(tag).jobs += 1
        jobTag(e.jobId) = (tag, e.time)
        e.stageInfos.foreach(si => stageTag(si.stageId) = tag)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (detailed) synchronized {
      jobTag.remove(e.jobId).foreach { case (tag, t0) => acc(tag).intervals += ((t0, e.time)) }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = if (detailed) synchronized {
      val tag = tagOf(e.properties)
      stageTag(e.stageInfo.stageId) = tag
      acc(tag).stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (detailed) synchronized {
      val a = acc(stageTag.getOrElse(e.stageId, "untagged"))
      a.tasks += 1
      if (e.taskInfo != null && !e.taskInfo.successful) a.tasksFailed += 1
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.gcMs += m.jvmGCTime
      }
    }
    def take(tag: String): Acc = synchronized { accs.remove(tag).getOrElse(new Acc) }
    def reset(): Unit = synchronized { accs.clear(); jobTag.clear(); stageTag.clear() }
  }

  /** Collects every micro-batch's progress report. */
  final class Batches extends StreamingQueryListener {
    private val buf = mutable.Buffer[Map[String, Any]]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val ops = p.stateOperators
      val rec = Map[String, Any](
        "trigger_ms" -> d.getOrElse("triggerExecution", 0L),
        "add_batch_ms" -> d.getOrElse("addBatch", 0L),
        "query_planning_ms" -> d.getOrElse("queryPlanning", 0L),
        "wal_commit_ms" -> d.getOrElse("walCommit", 0L),
        "commit_offsets_ms" -> d.getOrElse("commitOffsets", 0L),
        "state_commit_ms" -> ops.map(_.commitTimeMs).sum,
        "state_rows" -> ops.map(_.numRowsTotal).sum,
        "state_bytes" -> ops.map(_.memoryUsedBytes).sum,
        "input_rows" -> p.numInputRows,
        "run" -> p.runId.toString)
      synchronized { buf += rec }
    }
    def take(): Seq[Map[String, Any]] = synchronized { val r = buf.toList; buf.clear(); r }
  }

  def newSession(): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    // Session settings mirror graft.Bench's small-dataset configuration.
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "30min")
      .getOrCreate()
  }

  /** Opens every input table through the program's io layer. */
  def openInputs(spark: SparkSession, input: String): Unit = {
    val present = Tables.all.filter(t => new java.io.File(s"$input/$t.parquet").exists)
    present.foreach(t => Tables.table(spark, input, t).schema)
    if (present.contains("events")) Tables.events(spark, input).schema
  }

  def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Wall time of [w0, w1] not covered by any of `iv` (epoch ms). */
  def uncovered(w0: Long, w1: Long, iv: Seq[(Long, Long)]): Double = {
    var covered = 0L
    var end = w0
    iv.map { case (a, b) => (a.max(w0), b.min(w1)) }.filter { case (a, b) => b > a }
      .sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { covered += b - a.max(end); end = b }
      }
    ((w1 - w0) - covered).max(0L) / 1e3
  }

  def sparkFigures(a: Acc, w0: Long, w1: Long): Map[String, Any] = Map(
    "jobs" -> a.jobs, "stages" -> a.stages, "tasks" -> a.tasks,
    "tasks_failed" -> a.tasksFailed,
    "driver_only_s" -> uncovered(w0, w1, a.intervals.toSeq),
    "task_run_s" -> a.runMs / 1e3, "task_cpu_s" -> a.cpuNs / 1e9,
    "shuffle_read_mb" -> a.shuffleRead / 1048576.0,
    "shuffle_write_mb" -> a.shuffleWrite / 1048576.0,
    "spill_mb" -> a.spill / 1048576.0, "task_gc_s" -> a.gcMs / 1e3)

  def cacheMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val lanes = workloads.getOrElse(args.workload,
      sys.error(s"unknown workload ${args.workload}"))
    val processStart = ManagementFactory.getRuntimeMXBean.getStartTime
    graft.runtime.GraftScale.configure(args.input)

    var spark = newSession()
    spark.sparkContext.setLogLevel("ERROR")
    openInputs(spark, args.input)
    val firstSetup = (System.currentTimeMillis() - processStart) / 1e3
    val setupSamples = (1 to Setups).map { _ =>
      spark.stop()
      Stage.clear()
      val t0 = System.nanoTime()
      spark = newSession()
      openInputs(spark, args.input)
      secs(t0)
    }
    if (args.setupOnly) { spark.stop(); return }
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val tracer = new Tracer
    sc.addSparkListener(tracer)
    val batches = new Batches
    spark.streams.addListener(batches)

    val all = SparkEntry.queries
    val fns: Seq[(String, (SparkSession, String) => DataFrame)] = lanes.map { n =>
      n -> (if (args.injectFault.contains(n))
        (_: SparkSession, _: String) => throw new IllegalStateException(s"injected fault in $n")
      else all.getOrElse(n, sys.error(s"lane $n is not in SparkEntry.queries")))
    }

    def reset(): Unit = { Stage.clear(); spark.catalog.clearCache() }

    val passes = mutable.Buffer[Map[String, Any]]()

    /** One pass over the workload's lanes. `write` names a directory to
      * write each lane's output to for checking; otherwise the noop sink.
      */
    def pass(kind: String, traced: Boolean, write: Option[String]): Map[String, Any] = {
      if (kind == "cold" || kind == "first") reset()
      System.gc()
      Bus.drain(sc)
      batches.take()
      tracer.reset()
      tracer.detailed = traced
      val idx = passes.size
      val ledger0 = Stage.buildLedger
      val jobs0 = tracer.jobsStarted.get
      val gc0 = gcMillis
      val laneRecs = fns.map { case (name, fn) =>
        val tag = s"$idx:$name"
        if (traced) sc.setLocalProperty(TagKey, tag)
        val w0 = System.currentTimeMillis()
        val t0 = System.nanoTime()
        var t1 = t0
        val err = try {
          val df = fn(spark, args.input)
          t1 = System.nanoTime()
          write match {
            case Some(dir) => df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name")
            case None => df.write.mode("overwrite").format("noop").save()
          }
          None
        } catch { case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}") }
        val t2 = System.nanoTime()
        val w1 = System.currentTimeMillis()
        if (traced) sc.setLocalProperty(TagKey, null)
        val base = Map[String, Any](
          "lane" -> name, "ok" -> err.isEmpty, "error" -> err.orNull,
          "build_s" -> (t1 - t0) / 1e9, "sink_s" -> (t2 - t1) / 1e9,
          "w0" -> w0, "w1" -> w1)
        err.foreach(e => System.err.println(s"[perfbench] lane $name failed: $e"))
        base
      }
      val gcS = (gcMillis - gc0) / 1e3
      Bus.drain(sc)
      tracer.detailed = false
      val ledger1 = Stage.buildLedger
      val built = ledger1.filter { case (k, v) => ledger0.get(k).forall(_ < v) }
      val withSpark = if (!traced) laneRecs else laneRecs.map { r =>
        val a = tracer.take(s"$idx:${r("lane")}")
        r ++ sparkFigures(a, r("w0").asInstanceOf[Long], r("w1").asInstanceOf[Long])
      }
      val rec = Map[String, Any](
        "kind" -> kind, "traced" -> traced, "lanes" -> withSpark,
        "jobs" -> (tracer.jobsStarted.get - jobs0),
        "stage_build_s" -> built.map { case (k, v) => v - ledger0.getOrElse(k, 0.0) }.sum,
        "stage_builds" -> built.size,
        "gc_s" -> gcS,
        "batches" -> batches.take())
      passes += rec
      rec
    }

    pass("first", traced = false, Some(s"${args.out}/check/first"))
    pass("warmcheck", traced = false, Some(s"${args.out}/check/warm"))

    // Timed rounds of one cold and one warm pass. A traced run alternates
    // traced and untraced rounds, so tracing overhead is measured in this
    // JVM on passes in the same positions.
    val t0 = System.nanoTime()
    var rounds = 0
    while (secs(t0) < args.seconds || rounds < MinRounds) {
      val traced = args.trace && rounds % 2 == 0
      pass("cold", traced, None)
      pass("warm", traced, None)
      rounds += 1
    }
    val measured = secs(t0)
    val cache = cacheMb(spark)

    val layers = if (args.trace) Layers.run(spark, args.input, tracer) else Map.empty[String, Any]

    val env = Map[String, Any](
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "java_version" -> System.getProperty("java.version"),
      "java_vm" -> System.getProperty("java.vm.name"),
      "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
        .filter(_.startsWith("-X")),
      "spark_version" -> spark.version,
      "scala_version" -> scala.util.Properties.versionNumberString)
    val raw = Map[String, Any](
      "workload" -> args.workload, "lanes" -> lanes, "env" -> env,
      "first_setup_s" -> firstSetup, "setup_s" -> setupSamples,
      "measured_s" -> measured, "rounds" -> rounds, "cache_mb" -> cache,
      "passes" -> passes.toSeq, "layers" -> layers)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"${args.out}/raw.json"), Json(raw))
    spark.stop()
  }
}

/** Direct, timed calls into single layers, each on inputs prepared and
  * cached outside the timed region; the median of three calls is kept.
  */
object Layers {
  import Harness._

  def run(spark: SparkSession, input: String, tracer: Tracer): Map[String, Any] = {
    val sc = spark.sparkContext
    val out = mutable.LinkedHashMap[String, Any]()
    def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()
    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    /** Median seconds of 3 calls; the job count of the last call. */
    def timed(name: String)(body: => Unit): (Double, Int) = {
      var jobs = 0
      val samples = (1 to 3).map { _ =>
        System.gc()
        Bus.drain(sc)
        tracer.reset()
        tracer.detailed = true
        sc.setLocalProperty(TagKey, s"layer:$name")
        val t0 = System.nanoTime()
        body
        val s = secs(t0)
        sc.setLocalProperty(TagKey, null)
        Bus.drain(sc)
        tracer.detailed = false
        jobs = tracer.take(s"layer:$name").jobs
        s
      }
      (median(samples), jobs)
    }

    val docs = Tables.documents(spark, input)
    out("io.scan_s") = timed("io.scan") {
      noop(Tables.events(spark, input)); noop(docs)
    }._1
    out("text.tfidf_s") = timed("text.tfidf") {
      noop(graft.text.TfIdf.topKeywords(docs, "doc_id", Seq(col("text") -> 1.0), 10))
    }._1
    out("text.textrank_s") = timed("text.textrank") {
      noop(docs.select(col("doc_id"),
        graft.text.TextRankCore.keywordsCol(col("text"), 5, 10, 0.85, 100, 0.001).as("kw")))
    }._1

    val kw = graft.text.TfIdf.topKeywords(docs, "doc_id", Seq(col("text") -> 1.0), 10)
      .select(col("doc_id"), col("word")).persist()
    kw.count()
    out("sim.cosine_s") = timed("sim.cosine") {
      noop(graft.sim.Scoring.invertedCosineX(
        kw.withColumnRenamed("doc_id", "l"), "l", kw.withColumnRenamed("doc_id", "r"), "r"))
    }._1
    kw.unpersist()

    out("ext.minhash_lsh_s") = timed("ext.minhash_lsh") {
      val sigs = graft.ext.Dedup.minhashSignatures(docs, "doc_id", col("text"), 3, 8)
      noop(graft.ext.Dedup.lshCandidates(sigs, "doc_id", 8, 2))
    }._1

    val pairs = graft.ext.Dedup.lshCandidates(
      graft.ext.Dedup.minhashSignatures(docs, "doc_id", col("text"), 3, 8), "doc_id", 8, 2)
      .select(col("doc_a").as("a"), col("doc_b").as("b")).persist()
    pairs.count()
    val (ccS, ccJobs) = timed("ext.cc") {
      noop(graft.ext.Dedup.connectedComponents(docs.select(col("doc_id").as("_id")), pairs))
    }
    out("ext.cc_s") = ccS
    out("ext.cc_jobs") = ccJobs
    pairs.unpersist()

    val e0 = Tables.clicks(spark, input)
      .select((col("userId") * 2).as("u"), (col("newsId") * 2 + 1).as("v")).distinct()
    val edges = e0.select(col("u").as("src"), col("v").as("dst"))
      .union(e0.select(col("v").as("src"), col("u").as("dst"))).persist()
    edges.count()
    val (prS, prJobs) = timed("ext.pagerank") {
      noop(graft.ext.Graph.pageRank(edges, 10, 0.85))
    }
    out("ext.pagerank_s") = prS
    out("ext.pagerank_jobs") = prJobs
    edges.unpersist()
    out.toMap
  }
}

/** Minimal JSON encoder for the raw artifact. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }
      .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}
