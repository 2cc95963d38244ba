package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{Graft, SparkEntry}
import graft.functions.tokenize_ja_neologd
import graft.ja.{JaDictionary, JaMode, JaTokenizer, UserDict}

/** Measurement side of the benchmark: one JVM, one `local[k]` session, one
  * driver thread submitting one plan at a time (closed loop).
  *
  *   setup  — bring the session up, register graft, build the dictionary,
  *            resolve the inputs, write the set-up timestamps and exit (the
  *            build runs it once to dump the class-data-sharing archive).
  *   run    — setup, an untimed check pass (also the warm-up), then whole
  *            passes over the workload for `seconds` (and MinSamples); with
  *            trace=1 also spans and the per-layer probes. Writes one JSON
  *            document to `out`.
  *
  * All aggregation (medians, percentiles, span self time) happens in
  * run.py; this side only records raw samples.
  */
object Harness {

  // ---- clock: epoch microseconds with nanoTime resolution ---------------
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L

  // ---- spans -------------------------------------------------------------
  final case class Span(id: Int, parent: Int, layer: String, name: String,
      startUs: Long, endUs: Long)
  private val spans = ArrayBuffer.empty[Span]
  private var nextSpan = 0
  @volatile var tracing = false
  def span(parent: Int, layer: String, name: String, startUs: Long, endUs: Long): Int =
    spans.synchronized {
      nextSpan += 1
      if (tracing) spans += Span(nextSpan, parent, layer, name, startUs, endUs)
      nextSpan
    }
  def timed[T](parent: Int, layer: String, name: String)(f: Int => T): (T, Int) = {
    val id = spans.synchronized { nextSpan += 1; nextSpan }
    val s = nowUs
    val r = f(id)
    val e = nowUs
    if (tracing) spans.synchronized { spans += Span(id, parent, layer, name, s, e) }
    (r, id)
  }

  // ---- task / job / stage accounting --------------------------------------
  final class Acc {
    var cpuNs, tasks, stages, jobs = 0L
    var shuffleRead, shuffleWrite, spill, gcMs, inputRecords = 0L
  }
  final class Meter extends SparkListener {
    val byOp = new ConcurrentHashMap[String, Acc]()
    private val stageOp = new ConcurrentHashMap[Int, String]()
    private val stageJob = new ConcurrentHashMap[Int, Int]()
    private val jobInfo = new ConcurrentHashMap[Int, (String, Long)]()
    /** op id → (job id, start ms, end ms) and (stage id, job id, start, end). */
    val jobs = new ConcurrentHashMap[String, ArrayBuffer[(Int, Long, Long)]]()
    val stages = new ConcurrentHashMap[String, ArrayBuffer[(Int, Int, Long, Long)]]()
    def acc(op: String): Acc = byOp.computeIfAbsent(op, _ => new Acc)
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.op")))
        .getOrElse("-")
      e.stageIds.foreach { s => stageOp.put(s, op); stageJob.putIfAbsent(s, e.jobId) }
      jobInfo.put(e.jobId, (op, e.time))
      acc(op).synchronized { acc(op).jobs += 1 }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val info = jobInfo.remove(e.jobId)
      if (info != null)
        jobs.computeIfAbsent(info._1, _ => ArrayBuffer.empty)
          .synchronized(jobs.get(info._1) += ((e.jobId, info._2, e.time)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val op = stageOp.getOrDefault(si.stageId, "-")
      acc(op).synchronized { acc(op).stages += 1 }
      for (s <- si.submissionTime; c <- si.completionTime)
        stages.computeIfAbsent(op, _ => ArrayBuffer.empty).synchronized(
          stages.get(op) += ((si.stageId, stageJob.getOrDefault(si.stageId, -1), s, c)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      val a = acc(stageOp.getOrDefault(e.stageId, "-"))
      a.synchronized {
        a.tasks += 1
        a.cpuNs += m.executorCpuTime
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.gcMs += m.jvmGCTime
        a.inputRecords += m.inputMetrics.recordsRead
      }
    }
  }

  /** Executed plans, drained after each operation. */
  final class Plans extends QueryExecutionListener {
    val seen = ArrayBuffer.empty[QueryExecution]
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      seen.synchronized(seen += qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      seen.synchronized(seen += qe)
    def take(): Seq[QueryExecution] = seen.synchronized {
      val r = seen.toList; seen.clear(); r
    }
  }

  // ---- plan inspection ------------------------------------------------------
  def planNodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case o => o.children ++ o.subqueries
    }
    p +: kids.flatMap(planNodes)
  }
  def countTokenize(qe: QueryExecution): Int =
    planNodes(qe.executedPlan).map(_.expressions.map(_.collect {
      case t: graft.expr.TokenizeJaNeologd => t }.size).sum).sum

  /** 1 if a node evaluating an expression of class `cls` sits outside
    * whole-stage codegen, or the expression itself is a CodegenFallback. */
  def interpreted(plan: SparkPlan, cls: Class[_]): Int = {
    def walk(p: SparkPlan, inCodegen: Boolean): Boolean = {
      val here = p.expressions.exists(_.exists(e => cls.isInstance(e) &&
        (!inCodegen || e.isInstanceOf[org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback])))
      val kids = p match {
        case w: WholeStageCodegenExec => Seq(w.child -> true)
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan -> false)
        case q: QueryStageExec => Seq(q.plan -> false)
        case o => (o.children ++ o.subqueries).map(_ -> inCodegen)
      }
      here || kids.exists { case (k, c) => walk(k, c) }
    }
    if (walk(plan, false)) 1 else 0
  }

  // ---- workload definitions ------------------------------------------------
  final case class Op(name: String, kind: String, plan: SparkSession => DataFrame)

  val StopWords: Seq[String] = Seq("の", "に", "は", "を", "た", "が", "で", "て", "と", "し",
    "れ", "さ", "ある", "いる", "する", "も", "な", "こと")
  val StopTags: Seq[String] = Seq("助詞", "助動詞", "記号", "接続詞")
  val UserDictRows: Seq[String] = Seq(
    "日本経済新聞,日本 経済 新聞,ニホン ケイザイ シンブン,カスタム名詞",
    "関西国際空港,関西 国際 空港,カンサイ コクサイ クウコウ,テスト名詞")

  def topk(df: DataFrame, tokens: Column): DataFrame =
    df.select(explode(tokens).as("token")).groupBy("token").count()
      .orderBy(desc("count"), asc("token")).limit(20)

  def corpusOps(corpusDir: String): Seq[Op] = {
    def corpus(s: SparkSession) = s.read.parquet(s"$corpusDir/corpus.parquet")
    Seq(
      Op("ja_normal_topk", "corpus", s => topk(corpus(s), tokenize_ja_neologd(col("text")))),
      Op("ja_search_topk", "corpus", s => topk(corpus(s), tokenize_ja_neologd(col("text"), "search"))),
      Op("ja_stop_userdict_topk", "corpus", s => topk(corpus(s),
        tokenize_ja_neologd(col("text"), "normal", StopWords, StopTags, UserDictRows))),
      Op("ja_size_per_doc", "corpus", s => corpus(s)
        .select(col("doc_id"), size(tokenize_ja_neologd(col("text"))).as("n_tokens"))))
  }

  def queryOps(data: String, names: Seq[String]): Seq[Op] = {
    val qs = SparkEntry.queries
    names.map(n => Op(n, "query", s => qs(n)(s, data)))
  }

  /** The `SparkEntry` queries each workload runs, in a fixed order. */
  def queryNames(workload: String): Seq[String] = workload match {
    case "ja_tokenize" => SparkEntry.queries.keys.filter(_.contains("tokenize")).toSeq.sorted
    case "sql_relational" => graft.queries.Relational.all.map(_.name)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def workloadOps(workload: String, data: String, corpusDir: String,
      names: Seq[String]): Seq[Op] =
    (if (workload == "ja_tokenize") corpusOps(corpusDir) else Nil) ++ queryOps(data, names)

  /** The operators-layer probe of the traced run: (family, query). It
    * includes the nine slowest `Pipeline` queries of the committed runs. */
  val OperatorProbe: Seq[(String, String)] = Seq(
    "Dedup" -> "q67_dedup_clusters",
    "Similarity" -> "q34_embed_topk",
    "Retrieval" -> "q141_mmr_diversify", "Retrieval" -> "q214_bm25_hard_negatives",
    "TextAnalysis" -> "q216_perplexity_tertiles", "TextAnalysis" -> "q224_kn_trigram_gate",
    "Graph" -> "q131_pagerank_hosts", "Graph" -> "q138_personalized_pagerank",
    "Graph" -> "q144_hits_hubs_authorities",
    "Quantize" -> "q71_quantize_int8", "Sampling" -> "q72_stratified_sample",
    "Robust" -> "q160_trimmed_mean", "Sketches" -> "q80_cms_heavy_hitters",
    "Temporal" -> "q149_sessionize", "Privacy" -> "q132_k_anonymity",
    "Clustering" -> "q162_kmeans_int", "Multimodal" -> "q44_multimodal_stub")

  /** Latency samples a run needs at least: a p75 over n samples has ten
    * beyond it only from n = 40 on. The timed loop runs whole passes until
    * both `seconds` have passed and this many operations were timed. */
  val MinSamples = 40

  /** Timed runs of each operators-probe query; run.py reports the median. */
  val ProbeRuns = 3

  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  // ---- main ----------------------------------------------------------------
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val mode = a("mode")
    val workload = a("workload")
    val data = new File(a("data")).getAbsolutePath
    val corpusDir = new File(a("corpus")).getAbsolutePath
    val k = a("cores").toInt
    val traceOn = a.getOrElse("trace", "0") == "1"
    val out = mutable.LinkedHashMap.empty[String, Any]

    // ---- setup: session → register → dictionary → first tokenize → inputs
    val setupPhases = mutable.LinkedHashMap.empty[String, Double]
    def phase[T](name: String)(f: => T): T = {
      val t = System.nanoTime(); val r = f
      setupPhases(name) = (System.nanoTime() - t) / 1e6; r
    }
    val heapBean = ManagementFactory.getMemoryMXBean
    def usedHeapMb(): Double = {
      System.gc(); System.gc()
      heapBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    val spark = phase("session_ms") {
      SparkSession.builder()
        .master(s"local[$k]")
        .appName(s"perfbench-$workload")
        .config("spark.sql.shuffle.partitions", k.toString)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", a("work") + "/spark-local")
        .config("spark.sql.warehouse.dir", a("work") + "/warehouse")
        .getOrCreate()
    }
    spark.sparkContext.setLogLevel("ERROR")
    phase("register_ms")(Graft.register(spark))
    val heapBeforeDict = if (traceOn && mode == "run") usedHeapMb() else 0.0
    phase("dict_ms")(JaDictionary.embedded)
    val heapAfterDict = if (traceOn && mode == "run") usedHeapMb() else 0.0
    phase("first_tokenize_ms") {
      spark.range(1).select(tokenize_ja_neologd(lit("今日は天気がいいので公園へ行きました。")))
        .collect()
    }
    phase("inputs_ms") {
      Tables.foreach(t => graft.queries.Tables.t(spark, data, t).schema)
      if (workload == "ja_tokenize") spark.read.parquet(s"$corpusDir/corpus.parquet").schema
    }
    out("setup_done_epoch_us") = nowUs
    out("setup_phases_ms") = setupPhases.toMap
    if (mode == "setup") {
      spark.stop()
      write(a("out"), out)
      return
    }

    out("heap_mb") = usedHeapMb()
    if (traceOn) {
      out("ja.dict_init_ms") = setupPhases("dict_ms")
      out("ja.dict_heap_mb") = heapAfterDict - heapBeforeDict
    }

    val meter = new Meter
    spark.sparkContext.addSparkListener(meter)
    val plans = new Plans
    spark.listenerManager.register(plans)
    val sc = spark.sparkContext
    val ops = workloadOps(workload, data, corpusDir, queryNames(workload))
    // the traced run's operators probe: dumped in the check pass, timed after
    val probeOps = if (traceOn) queryOps(data, OperatorProbe.map(_._2)) else Nil
    var attempted = 0L
    var failed = 0L
    val failures = ArrayBuffer.empty[String]
    def fail(op: String, e: Throwable): Unit = {
      failed += 1
      failures += describe(op, e)
    }
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val verifyDir = a("work") + "/verify"
    /** Query results go to parquet for the DuckDB oracle (scripts/check.py). */
    def dump(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$verifyDir/$name")

    // ---- untimed check + warm-up pass --------------------------------------
    val checkStart = System.nanoTime()
    // The check pass is untimed, so it runs k operations at a time; it also
    // warms the JIT and codegen caches for the serial timed passes. Query
    // results are dumped for the oracle, corpus plan results collected for
    // checkTokenizer.
    val dumped = ArrayBuffer.empty[String]
    val collected = scala.collection.concurrent.TrieMap.empty[String, Array[Row]]
    val pool = java.util.concurrent.Executors.newFixedThreadPool(k)
    try {
      (ops ++ probeOps).map { op =>
        pool.submit(new java.util.concurrent.Callable[Option[String]] {
          def call(): Option[String] = {
            sc.setLocalProperty("perfbench.op", "check/" + op.name)
            try {
              val df = op.plan(spark)
              if (op.kind == "query") {
                dump(op.name, df)
                dumped.synchronized(dumped += op.name)
              } else collected(op.name) = df.collect()
              None
            } catch { case e: Throwable => Some(describe(op.name, e)) }
          }
        })
      }.foreach { f =>
        attempted += 1
        f.get().foreach { msg => failed += 1; failures += msg }
      }
      val oracle = SparkEntry.oracleSql.filter { case (n, _) => dumped.contains(n) }
      writeString(s"$verifyDir/oracle_sql.json", Json.encode(oracle))
      if (workload == "ja_tokenize") {
        val (n, bad) = checkTokenizer(spark, corpusDir, pool, collected)
        attempted += n
        failed += bad.size
        failures ++= bad
      }
    } finally pool.shutdown()
    PerfbenchBus.drain(sc)
    plans.take()
    out("check_s") = (System.nanoTime() - checkStart) / 1e9

    // ---- contention canary: the zero-arg version call ----------------------
    val floorQ = SparkEntry.queries("q62_version_call")
    val floors = (1 to 5).map { i =>
      sc.setLocalProperty("perfbench.op", s"floor/$i")
      val t = System.nanoTime(); noop(floorQ(spark, data)); (System.nanoTime() - t) / 1e9
    }
    out("floor_s") = floors.sorted.apply(2)
    PerfbenchBus.drain(sc)
    plans.take() // the passes see only their own plans

    // ---- timed passes --------------------------------------------------------
    def counters(id: String): Map[String, Any] = {
      val acc = meter.acc(id)
      Map("cpu_s" -> acc.cpuNs / 1e9, "tasks" -> acc.tasks, "stages" -> acc.stages,
        "jobs" -> acc.jobs, "shuffle_read_b" -> acc.shuffleRead,
        "shuffle_write_b" -> acc.shuffleWrite, "spill_b" -> acc.spill,
        "gc_ms" -> acc.gcMs, "input_records" -> acc.inputRecords)
    }
    var bookkeepingNs = 0L
    /** With tracing on: drain the bus, then turn the operation's planning
      * phases, jobs and stages into child spans of its query span. */
    def traceOp(id: String, qid: Int, df: DataFrame): (Map[String, Double], Int) = {
      val t = System.nanoTime()
      PerfbenchBus.drain(sc)
      var phases = Map.empty[String, Double]
      var tokNodes = 0
      val trackers = Option(df).map(_.queryExecution.tracker).toSeq ++
        plans.take().map { qe => tokNodes += countTokenize(qe); qe.tracker }
      trackers.foreach(_.phases.foreach { case (ph, sum) =>
        span(qid, "phase", ph, sum.startTimeMs * 1000, sum.endTimeMs * 1000)
        phases += ph -> (phases.getOrElse(ph, 0.0) + (sum.endTimeMs - sum.startTimeMs))
      })
      val jobSpan = mutable.Map.empty[Int, Int]
      Option(meter.jobs.get(id)).foreach(_.foreach { case (j, js, je) =>
        jobSpan(j) = span(qid, "job", s"job$j", js * 1000, je * 1000) })
      Option(meter.stages.get(id)).foreach(_.foreach { case (st, j, ss, se) =>
        span(jobSpan.getOrElse(j, qid), "stage", s"stage$st", ss * 1000, se * 1000) })
      bookkeepingNs += System.nanoTime() - t
      (phases, tokNodes)
    }

    def runPasses(seconds: Double): Seq[Map[String, Any]] = {
      val passes = ArrayBuffer.empty[Map[String, Any]]
      val t0 = System.nanoTime()
      timed(0, "workload", workload) { wl =>
        var p = 0
        while ((System.nanoTime() - t0) / 1e9 < seconds || p * ops.size < MinSamples) {
          val opsOut = ArrayBuffer.empty[Map[String, Any]]
          var tokNodes = 0
          val passStart = System.nanoTime()
          timed(wl, "pass", s"pass$p") { ps =>
            ops.foreach { op =>
              val id = s"$p/${op.name}"
              sc.setLocalProperty("perfbench.op", id)
              val s = nowUs
              val t = System.nanoTime()
              var df: DataFrame = null
              var ok = true
              try { df = op.plan(spark); noop(df) }
              catch { case e: Throwable => ok = false; fail(op.name, e) }
              val wall = (System.nanoTime() - t) / 1e9
              val qid = span(ps, "query", op.name, s, nowUs)
              attempted += 1
              val (phases, n) = if (tracing) traceOp(id, qid, df) else (Map.empty, 0)
              tokNodes += n
              opsOut += Map("name" -> op.name, "kind" -> op.kind, "wall_s" -> wall,
                "ok" -> ok, "phases_ms" -> phases)
            }
          }
          val passWall = (System.nanoTime() - passStart) / 1e9
          PerfbenchBus.drain(sc)
          plans.take().foreach(qe => tokNodes += countTokenize(qe))
          passes += Map("wall_s" -> passWall, "tokenize_nodes" -> tokNodes,
            "ops" -> opsOut.map(o => o ++ counters(s"$p/${o("name")}")).toSeq)
          p += 1
        }
      }
      passes.toSeq
    }

    tracing = traceOn
    out("passes") = runPasses(a("seconds").toDouble)
    if (traceOn) {
      out("trace_bookkeeping_s") = bookkeepingNs / 1e9
      out.addAll(Probes.ja(spark, data, corpusDir))
      out.addAll(Probes.expr(spark, data, corpusDir, k, () => {
        PerfbenchBus.drain(sc); plans.take().lastOption.map(_.executedPlan)
      }))
      // operators: ProbeRuns timed runs of each probe query into the noop
      // sink; its untimed dump in the check pass was the warm-up
      out("operator_probe") = OperatorProbe.zip(probeOps).map { case ((family, q), op) =>
        val runs = (1 to ProbeRuns).map { r =>
          val id = s"probe/$q/$r"
          sc.setLocalProperty("perfbench.op", id)
          attempted += 1
          val (wall, qid) = timed(0, "operators", q) { _ =>
            val t = System.nanoTime()
            try noop(op.plan(spark)) catch { case e: Throwable => fail(q, e) }
            (System.nanoTime() - t) / 1e9
          }
          traceOp(id, qid, null)
          Map("wall_s" -> wall) ++ counters(id)
        }
        Map("family" -> family, "name" -> q, "runs" -> runs)
      }
      out("spans") = spans.toSeq.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "layer" -> s.layer, "name" -> s.name, "start_us" -> s.startUs, "end_us" -> s.endUs))
    }

    out("attempted") = attempted
    out("failed") = failed
    out("failures") = failures.toSeq
    out("jvm") = System.getProperty("java.vm.name") + " " + System.getProperty("java.version")
    out("xmx_mb") = Runtime.getRuntime.maxMemory / 1048576
    out("spark") = spark.version
    spark.stop()
    write(a("out"), out)
  }

  /** Checks the corpus plans against direct JaTokenizer calls, for each
    * tokenizer configuration they use: per-document token digests of a
    * plain select, and the results of the timed plans themselves
    * (`collected`: each top-20 against the token counts of the direct calls,
    * `ja_size_per_doc` against their per-document token counts). */
  def checkTokenizer(spark: SparkSession, corpusDir: String,
      pool: java.util.concurrent.ExecutorService,
      collected: collection.Map[String, Array[Row]])
      : (Long, Seq[String]) = {
    val corpus = spark.read.parquet(s"$corpusDir/corpus.parquet")
    val configs = Seq(
      ("normal", tokenize_ja_neologd(col("text")), () => new JaTokenizer()),
      ("search", tokenize_ja_neologd(col("text"), "search"),
        () => new JaTokenizer(JaMode.Search)),
      ("stop_userdict", tokenize_ja_neologd(col("text"), "normal", StopWords, StopTags,
        UserDictRows), () => new JaTokenizer(JaMode.Normal, StopWords.toSet, StopTags.toSet,
        UserDict.parse(UserDictRows))))
    var n = 0L
    val bad = ArrayBuffer.empty[String]
    configs.foreach { case (label, expr, direct) =>
      val rows = corpus.select(col("doc_id"), col("text"), expr.as("toks")).collect()
      n += rows.length
      // direct single-thread calls, one tokenizer per worker
      val tokens = rows.grouped(math.max(1, rows.length / 16)).toSeq.map { chunk =>
        pool.submit(new java.util.concurrent.Callable[Seq[(Long, Seq[String])]] {
          def call(): Seq[(Long, Seq[String])] = {
            val tok = direct()
            chunk.toSeq.map(r => r.getLong(0) -> tok.tokenize(r.getString(1)).toSeq)
          }
        })
      }.flatMap(_.get())
      rows.zip(tokens).foreach { case (r, (id, toks)) =>
        if (digest(r.getSeq[String](2)) != digest(toks))
          bad += s"tokenize $label doc $id: digest mismatch"
      }
      // Spark orders strings by their UTF-8 bytes
      val counts = tokens.flatMap(_._2).groupBy(identity).map { case (t, ts) =>
        (t, ts.size.toLong) }.toSeq
      val top = counts.sortWith { case ((ta, ca), (tb, cb)) =>
        ca > cb || (ca == cb && java.util.Arrays.compareUnsigned(
          ta.getBytes(StandardCharsets.UTF_8), tb.getBytes(StandardCharsets.UTF_8)) < 0)
      }.take(20)
      // a plan that failed in the check pass has no result and is counted already
      val topkOp = s"ja_${label}_topk"
      collected.get(topkOp).foreach { res =>
        n += 1
        if (res.map(r => (r.getString(0), r.getLong(1))).toSeq != top)
          bad += s"$topkOp: top-20 differs from the direct JaTokenizer counts"
      }
      if (label == "normal") collected.get("ja_size_per_doc").foreach { res =>
        n += 1
        val sizes = res.map(r => r.getLong(0) -> r.getInt(1)).toMap
        if (sizes != tokens.map { case (id, t) => id -> t.size }.toMap)
          bad += "ja_size_per_doc: sizes differ from the direct JaTokenizer token counts"
      }
    }
    (n, bad.toSeq)
  }

  def describe(op: String, e: Throwable): String =
    s"$op: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)

  def digest(tokens: Seq[String]): Int =
    scala.util.hashing.MurmurHash3.seqHash(tokens)

  def writeString(path: String, s: String): Unit = {
    new File(path).getParentFile.mkdirs()
    Files.write(Paths.get(path), s.getBytes(StandardCharsets.UTF_8))
  }
  def write(path: String, m: collection.Map[String, Any]): Unit =
    writeString(path, Json.encode(m))
}

/** Minimal JSON encoder for the harness's raw output. */
object Json {
  def encode(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => encode(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + encode(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(encode).mkString("[", ",", "]")
    case o => quote(o.toString)
  }
  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
