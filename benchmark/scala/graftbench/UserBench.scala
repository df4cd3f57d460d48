package graftbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{DataSource, ParquetSource}
import graft.ops.{Corpus, Dedup, Pipeline, TextAnalysis}
import graft.requirements.{BetweenRequirement, Requirement, WithinRequirement}
import graft.runner.Runner

/** Per-span counters of a traced run. Spans nest; a Spark job counts toward
  * every span open on the thread that launched it, carried to the listener
  * by a local property.
  */
final class Counters {
  var seconds = 0.0
  var calls = 0L
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskCpuNs = 0L
  var taskRunMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var input = 0L
  var result = 0L
}

final class Tracer(spark: SparkSession) {
  private val Key = "graftbench.spans"
  private val counters = mutable.HashMap.empty[String, Counters]
  private val stageSpans = mutable.HashMap.empty[Int, Seq[String]]
  /** Finished spans: (pass, name, parent, start ns, end ns), written out at the end. */
  val records = mutable.ArrayBuffer.empty[(Int, String, String, Long, Long)]
  var pass = 0

  private def get(name: String): Counters = counters.getOrElseUpdate(name, new Counters)

  private def spansOf(props: java.util.Properties): Seq[String] =
    Option(props).flatMap(p => Option(p.getProperty(Key))).map(_.split('|').toSeq)
      .getOrElse(Seq.empty) :+ "spark"

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val spans = spansOf(e.properties)
      spans.foreach(s => get(s).jobs += 1)
      e.stageIds.foreach(id => stageSpans(id) = spans)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      stageSpans.getOrElse(e.stageInfo.stageId, Seq("spark")).foreach(s => get(s).stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      if (m != null) stageSpans.getOrElse(e.stageId, Seq("spark")).foreach { s =>
        val c = get(s)
        c.tasks += 1
        c.taskCpuNs += m.executorCpuTime
        c.taskRunMs += m.executorRunTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.input += m.inputMetrics.bytesRead
        c.result += m.resultSize
      }
    }
  })

  def span[T](name: String)(body: => T): T = {
    val sc = spark.sparkContext
    val outer = Option(sc.getLocalProperty(Key))
    sc.setLocalProperty(Key, outer.fold(name)(_ + "|" + name))
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      sc.setLocalProperty(Key, outer.orNull)
      synchronized {
        val c = get(name)
        c.seconds += (t1 - t0) / 1e9
        c.calls += 1
        records += ((pass, name, outer.map(_.split('|').last).getOrElse("pass"), t0, t1))
      }
    }
  }

  /** Counters since the last call, once every pending event is delivered. */
  def take(): Map[String, Counters] = {
    BenchBridge.drainListeners(spark.sparkContext)
    synchronized {
      val out = counters.toMap
      counters.clear()
      out
    }
  }
}

/** Wraps a source so every plan resolution is a traced span. */
final case class TracedSource(inner: DataSource, @transient tracer: Tracer) extends DataSource {
  override def name: String = inner.name
  override def df(spark: SparkSession): DataFrame =
    tracer.span("core.source_resolve")(inner.df(spark))
}

/** One benchmark run in a fresh JVM: set up, run a cold pass and two warm-up
  * passes, then time warm passes for the requested seconds (at least three).
  * Every operation's outcome is recorded for the independent checker.
  */
object UserBench {
  val SpecFamilies =
    Seq("nrows", "numeric", "varchar", "uniques", "intervals", "rows")
  val Stages = Seq("gate", "exact", "minhash", "components", "spans", "decontam")
  val Kernels = Seq("normalize_text", "shingle_hashes", "minhash_signature", "jaccard_sorted")

  final case class Check(name: String, family: String, kind: String, params: Map[String, String])

  def readChecks(path: String): Seq[Check] =
    Files.readAllLines(Paths.get(path)).asScala.filter(_.nonEmpty).map { line =>
      val f = line.split('\t')
      Check(f(0), f(1), f(2), f.drop(4).map { kv =>
        val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1)
      }.toMap)
    }.toSeq

  def declareWithin(reqs: Map[String, WithinRequirement], c: Check): Unit = {
    val p = c.params
    val r = reqs(p("table"))
    val n = Some(c.name)
    def d(k: String) = p(k).toDouble
    c.kind match {
      case "nrows_min" => r.addNRowsMinConstraint(p("n").toLong, name = n)
      case "num_between" =>
        r.addNumericBetweenConstraint(p("column"), d("min_fraction"), d("lo"), d("hi"), name = n)
      case "regex" =>
        r.addVarcharRegexConstraint(p("column"), p("regex"), relativeTolerance = d("tol"),
          aggregated = false, name = n)
      case "categorical" =>
        val bounds: Map[Any, (Double, Double)] = p("bounds").split(',').map { b =>
          val Array(k, lo, hi) = b.split(':')
          (k: Any) -> ((lo.toDouble, hi.toDouble))
        }.toMap
        r.addCategoricalBoundConstraint(Seq(p("column")), bounds, name = n)
      case "no_gap" =>
        r.addNumericNoGapConstraint("start", "end", Seq("k"), maxRelativeNViolations = d("tol"),
          name = n)
    }
  }

  def declareBetween(r: BetweenRequirement, c: Check): Unit = {
    val p = c.params
    val n = Some(c.name)
    c.kind match {
      case "row_equality" => r.addRowEqualityConstraint(None, None, p("tol").toDouble, name = n)
    }
  }

  def sha1(s: String): String =
    MessageDigest.getInstance("SHA-1").digest(s.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else s(math.min(s.size - 1, math.ceil(q * s.size).toInt - 1).max(0))
  }

  def json(m: Iterable[(String, Any)]): String = m.map {
    case (k, v: String) => "\"" + k + "\":\"" + v + "\""
    case (k, v: Seq[_]) => "\"" + k + "\":[" + v.mkString(",") + "]"
    case (k, v) => "\"" + k + "\":" + v
  }.mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val t0Ns = a("t0-ns").toLong
    val workload = a("workload")
    val data = a("data")
    val results = a("results")
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    def sinceLaunch: Double = {
      val now = Instant.now()
      (now.getEpochSecond * 1000000000L + now.getNano - t0Ns) / 1e9
    }

    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = if (traced) Some(new Tracer(spark)) else None
    def span[T](name: String)(body: => T): T = tracer.fold(body)(_.span(name)(body))
    def source(file: String, label: String): DataSource = {
      val s = ParquetSource(s"$data/$file", Some(label))
      tracer.fold(s: DataSource)(t => TracedSource(s, t))
    }

    // ---- one pass: a list of (operation, ok, value) plus timings
    val isSpec = workload == "spec"
    val checks = if (isSpec) readChecks(s"$data/expect/checks.tsv") else Seq.empty
    val familyOf = checks.map(c => c.name -> c.family).toMap
    def declare(): Seq[Requirement] =
      if (!isSpec) Seq.empty
      else {
        val within = Map(
          "facts" -> WithinRequirement(source("facts.parquet", "facts")),
          "intervals" -> WithinRequirement(source("intervals.parquet", "intervals")))
        val between = BetweenRequirement(source("v2.parquet", "v2"), source("v1.parquet", "v1"))
        checks.foreach(c => if (c.params.contains("table")) declareWithin(within, c)
          else declareBetween(between, c))
        within.values.toSeq :+ between
      }
    val buildTimes = mutable.ArrayBuffer.empty[Double]
    def timedDeclare(): Seq[Requirement] = {
      val t = System.nanoTime()
      val r = declare()
      buildTimes += (System.nanoTime() - t) / 1e9
      r
    }
    var specReqs = timedDeclare()
    val setupS = sinceLaunch

    val outDir = new File(results, "out")
    outDir.mkdirs()
    val written = mutable.HashSet.empty[String]
    val ops = mutable.ArrayBuffer.empty[String]
    val checkTimes = mutable.ArrayBuffer.empty[(Int, Double)]
    val minhashCounts = mutable.ArrayBuffer.empty[(Int, Double, Double)]

    def record(pass: Int, op: String)(body: => Option[String]): Unit = {
      val line =
        try body match {
          case Some(v) => s"$pass\t$op\tok\t$v"
          case None => s"$pass\t$op\tok\t"
        } catch {
          case e: Throwable =>
            System.err.println(s"graftbench: pass $pass $op failed: $e")
            s"$pass\t$op\terror\t${e.getClass.getSimpleName}"
        }
      ops += line
    }

    def runSpecPass(pass: Int, reqs: Seq[Requirement]): Seq[(String, String)] =
      Runner.collectDataTests(reqs).map { case (id, thunk) =>
        val name = id.split("::").head
        val t = System.nanoTime()
        val outcome =
          try span(s"constraints.${familyOf(name)}")(thunk(spark).outcome.toString)
          catch { case e: Throwable => "error:" + e.getClass.getSimpleName + ": " + e.getMessage }
        checkTimes += ((pass, (System.nanoTime() - t) / 1e9))
        name -> outcome
      }

    def stageOutput(stage: String, lines: Seq[String]): String = {
      val text = lines.sorted.mkString("\n") + "\n"
      val h = sha1(text)
      if (written.add(h))
        Files.write(new File(outDir, s"$h.txt").toPath, text.getBytes(StandardCharsets.UTF_8))
      h
    }

    def runCuratePass(pass: Int): Seq[(String, Either[Throwable, Seq[String]])] = {
      val docs = spark.read.parquet(s"$data/corpus.parquet")
      val evalSet = spark.read.parquet(s"$data/eval.parquet")
      def stage(name: String)(body: => Seq[String]): (String, Either[Throwable, Seq[String]]) =
        name -> (try Right(span(s"ops.$name")(body)) catch { case e: Throwable => Left(e) })
      def ids(df: DataFrame): Seq[String] = df.collect().map(_.get(0).toString).toSeq
      var candidates = 0.0
      lazy val pairs = Dedup.minhashNearDups(docs, "text", "id", threshold = 0.6,
        stageHook = (k, v) => if (k == "n_candidates") candidates = v)
      val out = Seq(
        stage("gate")(ids(TextAnalysis.gopherRules(docs, "text").where(col("gopher_keep")).select("id"))),
        stage("exact")(ids(Pipeline.curateCorpus(docs, "text", "id").select("id"))),
        stage("minhash")(pairs.collect().map(r =>
          "%d %d %.6f".format(r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq),
        stage("components")(Dedup.connectedComponents(pairs).collect().map(r =>
          s"${r.get(0)} ${r.get(1)}").toSeq),
        stage("spans")(Dedup.removeDuplicatedSpans(docs, "text", "id").collect().map(r =>
          s"${r.get(0)}\t${r.get(1)}").toSeq),
        stage("decontam")(Corpus.decontaminate(docs, evalSet, "text", "id").collect().map(r =>
          s"${r.get(0)} ${r.get(1)}").toSeq))
      val nPairs = out(2)._2.fold(_ => 0.0, _.size.toDouble)
      minhashCounts += ((pass, candidates, nPairs))
      graft.core.Blocks.releaseAll()
      out
    }

    // ---- kernel-only projections (traced runs): cached inputs, one job each
    lazy val kernelInputs = {
      graft.GraftExtensions.register(spark)
      val norm = spark.read.parquet(s"$data/corpus.parquet")
        .selectExpr("id", "normalize_text(text) AS n").cache()
      val sh = norm.selectExpr("id", "shingle_hashes(n, 5) AS s").cache()
      norm.count(); sh.count()
      (spark.read.parquet(s"$data/corpus.parquet").cache(), norm, sh)
    }
    def runKernels(): Map[String, Double] = {
      val (docs, norm, sh) = kernelInputs
      docs.count()
      val probe = sh.limit(8).selectExpr("s AS s2").cache()
      probe.count()
      val jobs = Seq(
        "normalize_text" -> (() => docs.selectExpr("max(length(normalize_text(text)))").collect()),
        "shingle_hashes" -> (() => norm.selectExpr("max(size(shingle_hashes(n, 5)))").collect()),
        "minhash_signature" -> (() => sh.selectExpr("max(element_at(minhash_signature(s, 64), 1))").collect()),
        "jaccard_sorted" -> (() => sh.crossJoin(broadcast(probe))
          .selectExpr("max(jaccard_sorted_long(s, s2))").collect()))
      val out = jobs.map { case (k, f) =>
        val t = System.nanoTime(); f(); k -> (System.nanoTime() - t) / 1e9
      }.toMap
      probe.unpersist()
      out
    }

    // ---- the pass loop
    val osBean = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val jit = ManagementFactory.getCompilationMXBean
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val threads = ManagementFactory.getThreadMXBean
    final case class JvmSnap(cpuNs: Long, jitMs: Long, gcMs: Long, started: Long)
    def snap() = JvmSnap(osBean.getProcessCpuTime, jit.getTotalCompilationTime,
      gcs.map(_.getCollectionTime).sum, threads.getTotalStartedThreadCount)

    val passTimes = mutable.ArrayBuffer.empty[Double]
    val passCpu = mutable.ArrayBuffer.empty[Double]
    val layer = mutable.ArrayBuffer.empty[Map[String, Double]]
    def onePass(pass: Int, measured: Boolean): Unit = {
      tracer.foreach { t => t.take(); t.pass = pass }
      val reqs = if (pass == 0) specReqs else timedDeclare()
      val s0 = snap()
      val t0 = System.nanoTime()
      val spec = if (isSpec) runSpecPass(pass, reqs) else Seq.empty
      val cur = if (isSpec) Seq.empty else runCuratePass(pass)
      val dt = (System.nanoTime() - t0) / 1e9
      val s1 = snap()
      passTimes += dt
      passCpu += (s1.cpuNs - s0.cpuNs) / 1e9
      spec.foreach { case (name, outcome) =>
        record(pass, name)(
          if (outcome.startsWith("error:")) throw new RuntimeException(outcome) else Some(outcome))
      }
      cur.foreach { case (name, res) =>
        record(pass, name)(res.fold(e => throw e, lines => Some(stageOutput(name, lines))))
      }
      tracer.filter(_ => measured).foreach { t =>
        val c = t.take()
        def cnt(n: String) = c.getOrElse(n, new Counters)
        val m = mutable.LinkedHashMap.empty[String, Double]
        val src = cnt("core.source_resolve")
        m("core.source_resolve_calls") = src.calls.toDouble
        m("core.source_resolve_s") = src.seconds
        m("core.source_resolve_jobs") = src.jobs.toDouble
        m("requirements.build_s") = if (isSpec) buildTimes.last else 0.0
        for (f <- SpecFamilies) {
          val x = cnt(s"constraints.$f")
          m(s"constraints.$f.s") = x.seconds
          m(s"constraints.$f.jobs") = x.jobs.toDouble
          m(s"constraints.$f.shuffle_bytes") = x.shuffleWrite.toDouble
        }
        for (st <- Stages) {
          val x = cnt(s"ops.$st")
          m(s"ops.$st.s") = x.seconds
          m(s"ops.$st.jobs") = x.jobs.toDouble
          m(s"ops.$st.shuffle_bytes") = x.shuffleWrite.toDouble
        }
        val mc = minhashCounts.find(_._1 == pass)
        m("ops.minhash.candidates") = mc.map(_._2).getOrElse(0.0)
        m("ops.minhash.pairs") = mc.map(_._3).getOrElse(0.0)
        val sp = cnt("spark")
        m("spark.jobs") = sp.jobs.toDouble
        m("spark.stages") = sp.stages.toDouble
        m("spark.tasks") = sp.tasks.toDouble
        m("spark.task_cpu_s") = sp.taskCpuNs / 1e9
        m("spark.task_run_s") = sp.taskRunMs / 1e3
        m("spark.shuffle_write_bytes") = sp.shuffleWrite.toDouble
        m("spark.shuffle_read_bytes") = sp.shuffleRead.toDouble
        m("spark.spill_bytes") = sp.spill.toDouble
        m("spark.input_bytes") = sp.input.toDouble
        m("spark.result_bytes") = sp.result.toDouble
        m("jvm.non_task_cpu_s") = (s1.cpuNs - s0.cpuNs) / 1e9 - sp.taskCpuNs / 1e9
        m("jvm.jit_s") = (s1.jitMs - s0.jitMs) / 1e3
        m("jvm.gc_s") = (s1.gcMs - s0.gcMs) / 1e3
        m("jvm.threads_started") = (s1.started - s0.started).toDouble
        val ck = checkTimes.filter(_._1 == pass).map(_._2).toSeq
        m("runner.checks") = ck.size.toDouble
        m("runner.check_p50_s") = if (ck.isEmpty) 0.0 else median(ck)
        m("runner.check_p90_s") = quantile(ck, 0.9)
        val kern = if (isSpec) Map.empty[String, Double] else runKernels()
        for (k <- Kernels) m(s"functions.${k}_s") = kern.getOrElse(k, 0.0)
        t.take()
        layer += m.toMap
      }
    }

    onePass(0, measured = false)
    val firstPassS = passTimes.head
    // two warm-up passes: JIT and codegen caches keep settling for several
    // passes, but a fixed schedule keeps runs comparable with each other
    onePass(1, measured = false)
    onePass(2, measured = false)
    val warmups = 2
    var pass = 2
    val windowStart = System.nanoTime()
    val measuredFrom = passTimes.size
    while (passTimes.size - measuredFrom < 3 || (System.nanoTime() - windowStart) / 1e9 < seconds) {
      pass += 1
      onePass(pass, measured = true)
    }
    val warm = passTimes.drop(measuredFrom).toSeq
    val warmCpu = passCpu.drop(measuredFrom).toSeq

    val metrics = mutable.LinkedHashMap[String, Any](
      "setup_s" -> setupS,
      "first_pass_s" -> firstPassS,
      "pass_s" -> median(warm),
      "cpu_s" -> median(warmCpu),
      "warmup_passes" -> warmups,
      "measured_passes" -> warm.size,
      "pass_times" -> passTimes.map(x => "%.4f".format(x)).toSeq,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"))
    if (layer.nonEmpty)
      layer.head.keys.foreach(k => metrics("layer:" + k) = median(layer.map(_(k)).toSeq))
    spark.stop()

    Files.write(Paths.get(results, "ops.tsv"),
      (ops.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
    tracer.foreach { t =>
      val w = new PrintWriter(new File(results, "spans.tsv"))
      t.records.foreach { case (p, n, parent, s, e) => w.println(s"$p\t$n\t$parent\t$s\t$e") }
      w.close()
    }
    Files.write(Paths.get(results, "metrics.json"),
      json(metrics).getBytes(StandardCharsets.UTF_8))
  }
}
