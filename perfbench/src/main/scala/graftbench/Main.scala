package graftbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.corpus.SyntheticCorpus
import graft.spark.Page

/** Benchmark program for one workload run, started by `perfbench/run.py`.
  *
  *   graftbench.Main --workload kg|queries|selftest --seed N --seconds S
  *     --trace 0|1 --work DIR [--tables DIR]
  *
  * Writes `DIR/result.json` (metric values by name, operation counts,
  * check failures) and `DIR/spans.jsonl`; units, the declared metric
  * set and the final result line are handled by run.py.
  */
object Main {
  val Cores = 4

  /** Stages `kg.Main.runPages` writes with the gold tagger, in order. */
  val Stages: Seq[String] = Seq("sentences", "mentions", "triples",
    "relations", "links", "nodes", "edges", "entity_rank")

  val StageFields: Seq[String] = Seq("wall_s", "jobs", "tasks", "cpu_s",
    "gc_s", "shuffle_mb", "spill_mb", "skew", "rows_out")

  /** The measured query subset, each with its family. */
  val QuerySet: Seq[(String, String)] = Seq(
    "kg_triples" -> "kg", "kg_bilstm_decode" -> "kg",
    "kg_pagerank" -> "graph", "ann_ivf_exhaustive_topk" -> "ann",
    "dedup_simhash" -> "dedup", "doc_bm25" -> "doc", "mm_decode" -> "mm",
    "stream_first_seen" -> "stream", "q1_agg" -> "q")

  val Families: Seq[String] = QuerySet.map(_._2).distinct

  /** kg workload size: SyntheticCorpus pages, entity pages, vocabulary. */
  val SynthPages = 1000L
  val EntityPages = 400L
  val EntityVocab = 400

  final class Run(val spark: SparkSession, val work: String, val seed: Long,
      val seconds: Double, val trace: Boolean, val spans: Spans,
      val tracer: Option[Tracer]) {
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    val errors = mutable.ArrayBuffer.empty[String]
    var attempted = 0
    var failed = 0
    val extra = mutable.LinkedHashMap.empty[String, String]
    def fail(msg: String): Unit = { errors += msg; System.err.println(s"[bench] FAIL $msg") }
  }

  def medianOf(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def dirBytes(f: File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)

  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("graft-perfbench")
      // the kg.Main.main session settings
      .config("spark.sql.shuffle.partitions", Cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // keep every file the run writes inside its work directory
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val work = new File(opts("work")).getAbsolutePath
    val trace = opts.getOrElse("trace", "0") == "1"
    val host = new Host(Cores)
    val spans = new Spans(s"$workload-$seed-${System.currentTimeMillis()}")
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(work)
    val readyMs = System.currentTimeMillis()
    spans.add("setup.session", jvmStartMs, readyMs, "run")
    val cache = new CacheMeter
    spark.sparkContext.addSparkListener(cache)
    val outDir = s"$work/out"
    val tracer = if (trace || workload == "selftest") Some(new Tracer(outDir)) else None
    tracer.foreach(spark.sparkContext.addSparkListener)
    val run = new Run(spark, work, seed, opts.getOrElse("seconds", "10").toDouble,
      trace, spans, tracer)
    run.metrics("setup.session_s") = (readyMs - jvmStartMs) / 1000.0
    try workload match {
      case "kg" => Kg.run(run, outDir, SynthPages, EntityPages, EntityVocab)
      case "queries" => Queries.run(run, opts("tables"))
      case "selftest" => SelfTest.run(run, outDir)
      case other => sys.error(s"unknown workload $other")
    } catch {
      case e: Throwable =>
        run.failed = math.max(run.failed, 1)
        run.attempted = math.max(run.attempted, 1)
        run.fail(s"$workload: ${e.getClass.getName}: ${e.getMessage}")
        e.printStackTrace()
    }
    // the listener bus is asynchronous: let queued events drain
    Thread.sleep(500)
    val contention = host.snapshot()
    System.err.println("[bench] host " + contention.map { case (k, v) => f"$k=$v%.4f" }.mkString(" "))
    run.extra("host") = Json.obj(contention.map { case (k, v) => k -> Json.num(v) })
    if (trace) {
      contention.foreach { case (k, v) => run.metrics(k) = v }
      Kernels.measure(spark, seed, 0.6).foreach { case (k, v) => run.metrics(k) = v }
    }
    run.metrics("cache_peak_mb") = cache.peakBytes / 1e6
    spark.stop()
    spans.write(s"$work/spans.jsonl")
    val result = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "attempted" -> run.attempted.toString,
      "failed" -> run.failed.toString,
      "errors" -> run.errors.map(Json.str).mkString("[", ",", "]"),
      "metrics" -> Json.obj(run.metrics.toSeq.map { case (k, v) => k -> Json.num(v) })) ++
      run.extra.toSeq)
    Json.writeFile(s"$work/result.json", result)
  }

  /** Per-stage metrics from the tracer, plus stage-boundary accounting. */
  def stageMetrics(run: Run, lineage: Map[String, (Long, Long)],
      t0Ms: Long, t1Ms: Long, pipelineS: Double): Unit = {
    val segs = run.tracer.map(_.pipelineSegments).getOrElse(Nil)
    val byName = segs.toMap
    Stages.foreach { st =>
      val s = byName.get(st)
      def put(f: String, v: Double): Unit = run.metrics(s"$st.$f") = v
      put("wall_s", s.map(x => (x.endMs - x.firstJobMs) / 1000.0).getOrElse(0.0))
      put("jobs", s.map(_.jobs.toDouble).getOrElse(0.0))
      put("tasks", s.map(_.tasks.toDouble).getOrElse(0.0))
      put("cpu_s", s.map(_.cpuNs / 1e9).getOrElse(0.0))
      put("gc_s", s.map(_.gcMs / 1000.0).getOrElse(0.0))
      put("shuffle_mb", s.map(_.shuffleBytes / 1e6).getOrElse(0.0))
      put("spill_mb", s.map(_.spillBytes / 1e6).getOrElse(0.0))
      put("skew", s.map(_.skew).getOrElse(0.0))
      put("rows_out", lineage.get(st).map(_._1.toDouble).getOrElse(0.0))
    }
    // time between stages: before the first stage's first job, between
    // one stage's lineage append and the next stage's first job, and
    // after the last append
    val between =
      if (segs.isEmpty) 0.0
      else {
        val ordered = segs.map(_._2)
        val gaps = ordered.zip(ordered.tail).map { case (a, b) => b.firstJobMs - a.endMs }
        (ordered.head.firstJobMs - t0Ms + gaps.sum + (t1Ms - ordered.last.endMs)) / 1000.0
      }
    run.metrics("stages.between_s") = between
    // lineage wall_ms covers compute + write only; the rest of a stage's
    // wall time is the stage runner's read-back and lineage bookkeeping
    run.metrics("stages.bookkeeping_s") = segs.collect {
      case (n, s) if lineage.contains(n) => (s.endMs - s.firstJobMs) / 1000.0 - lineage(n)._2 / 1000.0
    }.sum
    run.metrics("trace.overhead") =
      run.tracer.map(_.handlerSeconds / pipelineS).getOrElse(0.0)
    val accounted = Stages.map(st => run.metrics(s"$st.wall_s")).sum + between
    System.err.println(f"[bench] stage walls + between = $accounted%.3f s of pipeline $pipelineS%.3f s")
    segs.foreach { case (n, s) =>
      System.err.println(f"[bench] stage $n%-12s wall ${(s.endMs - s.firstJobMs) / 1000.0}%.3f s" +
        f" lineage ${lineage.get(n).map(_._2 / 1000.0).getOrElse(-1.0)}%.3f s jobs ${s.jobs}")
    }
  }

  /** Zero readings for layers the workload does not exercise. */
  def zeroStages(run: Run): Unit = {
    for (st <- Stages; f <- StageFields) run.metrics(s"$st.$f") = 0.0
    Seq("stages.between_s", "stages.bookkeeping_s", "stages.out_mb",
      "links.variant_recall").foreach(run.metrics(_) = 0.0)
  }

  def zeroFamilies(run: Run): Unit = {
    for (f <- Families; m <- Seq("s", "jobs", "shuffle_mb")) run.metrics(s"$f.$m") = 0.0
    run.metrics("kg.triples_per_s") = 0.0
  }

  /** Order-independent fingerprint of a table's rows. */
  def fingerprint(df: DataFrame): String = {
    val rows = df.collect().map(_.toString).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** (output rows, wall ms) per stage, from the lineage of a fresh outDir. */
  def lineageOf(spark: SparkSession, outDir: String): Map[String, (Long, Long)] =
    new graft.kg.Stages(spark, outDir).lineage()
      .groupBy("stage").agg(sum("output_rows"), max("wall_ms"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
}

/** `kg`: SyntheticCorpus pages (hot alias on every 5th page) plus entity
  * pages with planted name variants, one cold `kg.Main.runPages` pass.
  */
object Kg {
  import Main._

  /** Write the pages table three times; returns its path and the median
    * materialization seconds.
    */
  def materialize(run: Run, pages: => org.apache.spark.sql.Dataset[Page]): (String, Double) = {
    val secs = (0 until 3).map { i =>
      run.spans.time(s"setup.materialize#$i", "setup") {
        pages.write.mode("overwrite").parquet(s"${run.work}/pages_$i")
      }._2
    }
    (s"${run.work}/pages_0", medianOf(secs))
  }

  def run(run: Run, outDir: String, synthPages: Long, entityPages: Long,
      vocab: Int): Unit = {
    val spark = run.spark
    import spark.implicits._
    val seed = run.seed
    val ec = EntityCorpus(seed, vocab)
    val (pagesDir, matS) = materialize(run,
      SyntheticCorpus.pages(spark, synthPages, seed = seed)
        .union(ec.pages(spark, entityPages)))
    run.metrics("setup_s") = run.metrics("setup.session_s") + matS
    val synthNames = SyntheticCorpus.targetNamesFn(seed = seed)
    val namesFn: String => Seq[String] = url =>
      if (url.startsWith(EntityCorpus.UrlPrefix)) ec.targetNames(url) else synthNames(url)
    val pages = spark.read.parquet(pagesDir).as[Page]
    spark.sparkContext.setCheckpointDir(s"$outDir/_checkpoints")

    run.attempted += 1
    spark.sparkContext.setLocalProperty(Tracer.PhaseKey, Tracer.Pipeline)
    val t0Ms = System.currentTimeMillis()
    val (_, pipelineS) = run.spans.time("pipeline", "run") {
      graft.kg.Main.runPages(spark, pages, None, Some(namesFn), outDir, "gold", 2L)
    }
    val t1Ms = System.currentTimeMillis()
    spark.sparkContext.setLocalProperty(Tracer.PhaseKey, null)

    run.spans.time("check", "run") {
      val lineage = lineageOf(spark, outDir)
      val edgesRows = spark.read.parquet(s"$outDir/edges").count()
      run.metrics("pass_s") = pipelineS
      run.metrics("rows_per_s") = edgesRows / pipelineS
      val before = run.errors.size
      checkTriples(run, outDir, synthPages, entityPages, ec)
      run.extra("entity_rank_fingerprint") =
        Json.str(fingerprint(spark.read.parquet(s"$outDir/entity_rank")))
      checkVariants(run, outDir, entityPages, ec)
      if (run.errors.size > before) run.failed += 1
      if (run.trace) {
        Thread.sleep(500) // let queued listener events drain
        stageMetrics(run, lineage, t0Ms, t1Ms, pipelineS)
        run.metrics("stages.out_mb") = dirBytes(new File(outDir)) / 1e6
        zeroFamilies(run)
      }
    }
  }

  /** `triples` holds one row per distinct (page, name) the generators planted. */
  def checkTriples(run: Run, outDir: String, synthPages: Long,
      entityPages: Long, ec: EntityCorpus): Unit = {
    val synth = SyntheticCorpus.targetNamesFn(seed = run.seed)
    val expected =
      (0L until synthPages).map(id => synth(SyntheticCorpus.urlOf(id)).distinct.size.toLong).sum +
        (0L until entityPages).map(id => ec.targetNames(EntityCorpus.urlOf(id)).distinct.size.toLong).sum
    val got = run.spark.read.parquet(s"$outDir/triples").count()
    if (got != expected) run.fail(s"triples rows $got, generators planted $expected")
  }

  /** Accent and upper-case variants must share their canonical name's
    * entity; the linked share of typo variants is recorded.
    */
  def checkVariants(run: Run, outDir: String, entityPages: Long,
      ec: EntityCorpus): Unit = {
    val norm = graft.extract.Extractor.normalizeTargetName _
    val entityOf: Map[String, String] = run.spark.read.parquet(s"$outDir/nodes")
      .select("entity_id", "aliases").collect()
      .flatMap(r => r.getSeq[String](1).map(_ -> r.getString(0))).toMap
    val planted = (0L until entityPages).flatMap(ec.slotsOf).distinct
    val present = planted.collect { case (r, EntityCorpus.Canonical) => r }.toSet
    var typos = 0
    var linked = 0
    planted.foreach { case (rank, kind) =>
      if (kind != EntityCorpus.Canonical && present(rank)) {
        val canon = entityOf.get(norm(ec.canonical(rank)))
        val mine = entityOf.get(norm(ec.surface(rank, kind)))
        if (kind == EntityCorpus.Typo) {
          typos += 1
          if (canon.isDefined && canon == mine) linked += 1
        } else if (canon.isEmpty || canon != mine)
          run.fail(s"variant '${ec.surface(rank, kind)}' not in the entity of '${ec.canonical(rank)}'")
      }
    }
    run.metrics("links.variant_recall") = if (typos == 0) 0.0 else linked.toDouble / typos
  }
}

/** `queries`: the query subset over generated tables: a warm-up pass
  * that writes each result for the oracle check, then timed passes.
  */
object Queries {
  import Main._

  def run(run: Run, tables: String): Unit = {
    val spark = run.spark
    val sc = spark.sparkContext
    val registry = graft.SparkEntry.queries
    Json.writeFile(s"${run.work}/oracle_sql.json", Json.obj(QuerySet.map {
      case (q, _) => q -> Json.str(graft.SparkEntry.oracleSql(q))
    }))
    run.attempted = QuerySet.size
    val failedQ = mutable.LinkedHashSet.empty[String]
    // warm-up pass: the first execution of each query in the JVM, which
    // also writes its result for the DuckDB oracle check
    val (_, warmS) = run.spans.time("setup.warmup", "setup") {
      QuerySet.foreach { case (q, _) =>
        try registry(q)(spark, tables).write.mode("overwrite").parquet(s"${run.work}/results/$q")
        catch { case e: Throwable => failedQ += q; run.fail(s"$q: ${e.getMessage}") }
      }
    }
    run.metrics("setup_s") = run.metrics("setup.session_s") + warmS
    // timed passes, to full materialization as graft.Bench times queries:
    // at least two (a fixed pass count keeps cache_peak_mb comparable),
    // more while --seconds have not elapsed; each query reports its median
    val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val t0 = System.nanoTime()
    var passes = 0
    while (passes < 2 || (System.nanoTime() - t0) / 1e9 < run.seconds) {
      run.spans.time(s"pass#$passes", "run") {
        QuerySet.foreach { case (q, _) =>
          sc.setLocalProperty(Tracer.OpKey, q)
          try samples.getOrElseUpdate(q, mutable.ArrayBuffer.empty) +=
            run.spans.time(s"query:$q", s"pass#$passes") {
              registry(q)(spark, tables).queryExecution.toRdd.foreach(_ => ())
            }._2
          catch { case e: Throwable => failedQ += q; run.fail(s"$q: ${e.getMessage}") }
          sc.setLocalProperty(Tracer.OpKey, null)
        }
      }
      passes += 1
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    val secs = samples.map { case (q, xs) => q -> medianOf(xs.toSeq) }
    run.failed = failedQ.size
    run.extra("failed_queries") = failedQ.toSeq.map(Json.str).mkString("[", ",", "]")
    run.extra("passes") = passes.toString
    run.extra("query_s") = Json.obj(secs.toSeq.map { case (q, s) => q -> Json.num(s) })
    run.metrics("pass_s") = secs.values.sum
    val ok = secs.keys.filterNot(failedQ).toSeq
    val rows = ok.map(q => q -> spark.read.parquet(s"${run.work}/results/$q").count()).toMap
    run.metrics("rows_per_s") = rows.values.sum / ok.map(secs).sum
    if (run.trace) {
      Thread.sleep(500) // let queued listener events drain
      val tr = run.tracer.get
      Families.foreach { f =>
        val qs = QuerySet.filter(_._2 == f).map(_._1)
        val st = qs.flatMap(tr.opStats)
        run.metrics(s"$f.s") = qs.flatMap(secs.get).sum
        run.metrics(s"$f.jobs") = st.map(_.jobs).sum.toDouble / passes
        run.metrics(s"$f.shuffle_mb") = st.map(_.shuffleBytes).sum / 1e6 / passes
      }
      run.metrics("kg.triples_per_s") =
        rows.get("kg_triples").map(_ / secs("kg_triples")).getOrElse(0.0)
      run.metrics("trace.overhead") = tr.handlerSeconds / wallS
      zeroStages(run)
    }
  }
}

/** Benchmark self-checks that need Spark: generator determinism and
  * complete job attribution on a tiny traced pipeline.
  */
object SelfTest {
  import Main._

  def run(run: Run, outDir: String): Unit = {
    val spark = run.spark
    def check(cond: Boolean, msg: String): Unit = {
      run.attempted += 1
      if (!cond) { run.failed += 1; run.fail(msg) }
      else System.err.println(s"[selftest] ok  $msg")
    }
    val a = EntityCorpus(7L, 200)
    val b = EntityCorpus(7L, 200)
    val c = EntityCorpus(8L, 200)
    check((0L until 50L).forall(i => a.namesOf(i) == b.namesOf(i)),
      "entity corpus: same seed gives the same names")
    check((0L until 50L).exists(i => a.namesOf(i) != c.namesOf(i)),
      "entity corpus: another seed gives other names")
    val kinds = (0L until 200L).flatMap(a.slotsOf).map(_._2)
    check(Seq(1, 2, 3).forall(kinds.contains) &&
      math.abs(kinds.count(_ != EntityCorpus.Canonical).toDouble / kinds.size - 0.25) < 0.05,
      "entity corpus: about one mention in four is a planted variant")
    def pagesFp(seed: Long) = fingerprint(SyntheticCorpus.pages(spark, 20, seed = seed)
      .union(EntityCorpus(seed, 50).pages(spark, 20))
      .select(col("url"), sha2(col("html"), 256)))
    check(pagesFp(3L) == pagesFp(3L), "kg pages: same seed gives the same pages")
    check(pagesFp(3L) != pagesFp(4L), "kg pages: another seed gives other pages")

    // a tiny traced pipeline: every job it starts belongs to one stage
    Kg.run(run, outDir, 40L, 20L, 30)
    val segs = run.tracer.get.pipelineSegments
    val pipelineJobs = run.tracer.get.pipelineJobCount
    check(segs.map(_._1) == Stages,
      s"attribution: segments ${segs.map(_._1).mkString(",")} are the pipeline stages in order")
    check(segs.map(_._2.jobs).sum == pipelineJobs && pipelineJobs > 0,
      s"attribution: all $pipelineJobs pipeline jobs assigned to exactly one stage")
  }
}
