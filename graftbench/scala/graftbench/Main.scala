package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}

import graft.core.{BoilerplateExtractor, HtmlDom, UrlNormalizer}
import graft.core.Model.CrawlConfig
import graft.crawl.{FetchSource, SyntheticCorpus, WaveRunner}

/** One run of one workload. Prints nothing it measures: the raw samples,
  * checks and spans go to `--out` as JSON, and `run.py` turns them into
  * metrics.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --work DIR
  *             --data DIR --queries q1,q2,... --out FILE
  *
  * Every workload is a closed loop: one crawl or one query at a time. A
  * run sets up three times, runs one cold pass, then warm passes at 4
  * cores for half of `--seconds` (at least three) and at 1 core for the
  * other half (at least one, after one unmeasured).
  */
object Main {

  /** Inputs depend on the seed only through this many variants, each
    * with its outputs recorded in `data/expected.tsv`.
    */
  val Variants = 8

  final case class Op(name: String, seconds: Double)

  final case class Pass(leg: String, traced: Boolean, seconds: Double, items: Long,
                        ops: Seq[Op], peakExecMem: Long, codegenS: Double = 0.0)

  final case class Check(name: String, ok: Boolean, detail: String)

  final class Run(val workload: String, val seed: Long, val seconds: Double,
                  val traced: Boolean, val work: Path, val data: Path,
                  val queries: Seq[String]) {
    val variant: Int = math.floorMod(seed, Variants.toLong).toInt
    val inputSeed: Long = 1000L + variant
    val tracer = new Tracer(traced)
    val setups = mutable.ArrayBuffer.empty[Double]
    var cold: Option[Pass] = None
    val passes = mutable.ArrayBuffer.empty[Pass]
    val checks = mutable.ArrayBuffer.empty[Check]
    val info = mutable.LinkedHashMap.empty[String, Any]
    val fingerprints = mutable.LinkedHashMap.empty[String, String]
    var attempted = 0L
    var failed = 0L
    var spark: SparkSession = _

    private val expected: Map[String, String] = {
      val f = data.resolve("expected.tsv")
      if (!Files.exists(f)) Map.empty
      else Files.readAllLines(f, UTF_8).asScala.toSeq.filter(_.nonEmpty).flatMap { l =>
        l.split("\t") match {
          case Array(w, v, k, fp) if w == workload && v.toInt == variant => Some(k -> fp)
          case _ => None
        }
      }.toMap
    }

    /** Records a fingerprint and checks it against the recorded value. */
    def fingerprint(key: String, fp: String): Boolean = {
      fingerprints.getOrElseUpdate(key, fp)
      expected.get(key) match {
        case Some(want) if want != fp =>
          checks += Check(s"recorded:$key", ok = false, s"got $fp, recorded $want")
          false
        case Some(_) => true
        case None =>
          checks += Check(s"recorded:$key", ok = true, "no recorded value")
          true
      }
    }

    /** Counts one operation; a throw or a false result counts as failed. */
    def attempt(name: String)(body: => Boolean): Boolean = {
      attempted += 1
      val ok =
        try body
        catch {
          case e: Throwable =>
            checks += Check(name, ok = false, s"threw ${e.getClass.getSimpleName}: ${e.getMessage}")
            System.err.println(s"[graftbench] $name failed")
            e.printStackTrace()
            false
        }
      if (!ok) failed += 1
      ok
    }

    def dir(name: String): String = {
      val p = work.resolve(name)
      Files.createDirectories(p)
      p.toString
    }

    /** (Re)starts the session at `cores`; the listener follows it. */
    def session(cores: Int): SparkSession = {
      if (spark != null) spark.stop()
      spark = SparkSession.builder()
        .master(s"local[$cores]")
        .appName(s"graftbench-$workload")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "8m")
        .config("spark.sql.files.openCostInBytes", "1m")
        .config("spark.local.dir", dir("spark-local"))
        .config("spark.sql.warehouse.dir", dir("warehouse"))
        .getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      tracer.attach(spark.sparkContext)
      spark
    }

    def timed[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    }

    /** Runs passes until `budget` seconds have gone and at least
      * `minPasses` have run. A traced run traces the odd passes of a
      * traceable leg only, so its tracing overhead is measured against
      * untraced passes on both sides.
      */
    def leg(label: String, budget: Double, minPasses: Int, traceable: Boolean)
           (pass: (String, Boolean) => Pass): Unit = {
      val t0 = System.nanoTime()
      var i = 0
      while (i < minPasses || (System.nanoTime() - t0) / 1e9 < budget) {
        passes += pass(s"$label-$i", traced && traceable && i % 2 == 1)
        i += 1
      }
    }

    /** The two measured legs: 4-core passes in the session of the cold
      * pass, then 1-core passes in a new session. The first pass in a new
      * session runs slow, so the 1-core leg starts with an unmeasured one.
      */
    def legs(pass: (String, Boolean) => Pass): Unit = {
      leg("c4", seconds / 2, minPasses = 3, traceable = true)(pass)
      session(1)
      pass("warmup-c1", false)
      leg("c1", seconds / 2, minPasses = 1, traceable = false)(pass)
    }

    /** Whole-stage codegen compile seconds spent by `body` (JVM-wide). */
    def codegen[T](body: => T): (T, Double) = {
      val c0 = WholeStageCodegenExec.codeGenTime
      val r = body
      (r, (WholeStageCodegenExec.codeGenTime - c0) / 1e9)
    }

    def toJson: String = {
      def passJson(p: Pass) = Json.Raw(Json.obj("leg" -> p.leg, "traced" -> p.traced,
        "s" -> p.seconds, "items" -> p.items, "peak_exec_mem" -> p.peakExecMem,
        "codegen_s" -> p.codegenS,
        "ops" -> Json.Raw(Json.arr(p.ops.map(o =>
          Json.Raw(Json.obj("name" -> o.name, "s" -> o.seconds)))))))
      Json.obj(
        "workload" -> workload, "seed" -> seed, "variant" -> variant, "trace" -> traced,
        "setup_s" -> setups.toSeq,
        "cold" -> cold.map(passJson),
        "passes" -> Json.Raw(Json.arr(passes.toSeq.map(passJson))),
        "checks" -> Json.Raw(Json.arr(checks.toSeq.map(c =>
          Json.Raw(Json.obj("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail))))),
        "attempted" -> attempted, "failed" -> failed,
        "info" -> Json.Raw(Json.obj(info.toSeq: _*)),
        "fingerprints" -> Json.Raw(Json.obj(fingerprints.toSeq: _*)),
        "spans" -> Json.Raw(tracer.toJson))
    }
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val run = new Run(opts("workload"), opts("seed").toLong, opts("seconds").toDouble,
      opts("trace") == "1", Paths.get(opts("work")), Paths.get(opts("data")),
      opts.get("queries").toSeq.flatMap(_.split(",")).filter(_.nonEmpty))
    val workload: Run => Unit = run.workload match {
      case "crawl_bulk" => Crawls.bulk
      case "curation" => Curation.run
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    try {
      workload(run)
      // a traced run measures every layer: the core functions directly,
      // and the other workload's layers with one probe pass of it
      if (run.traced) {
        CoreLayer.measure(run)
        if (run.workload == "curation") Crawls.probe(run) else Curation.probe(run)
      }
    } finally if (run.spark != null) run.spark.stop()
    Files.write(Paths.get(opts("out")), run.toJson.getBytes(UTF_8))
  }
}

/** The crawl workload: whole crawls of a seeded synthetic corpus with
  * budgets that never bind, the bucketed fetch table, every 4th URL
  * seeded and two waves at depth 3.
  */
object Crawls {
  import Main._

  val BulkUrls = 8000L
  val SeedEvery = 4

  def bulkSpec(run: Run): SyntheticCorpus.Spec =
    SyntheticCorpus.Spec(numUrls = BulkUrls, numHosts = math.max(50, (BulkUrls / 100).toInt),
      seed = run.inputSeed)

  def bulkConfig(run: Run): CrawlConfig =
    CrawlConfig(maxDepth = 3, defaultMaxPerWave = (BulkUrls * 2).toInt, maxWaves = 2,
      saltTarget = 20000L, assumeUniqueUrls = true, broadcastPopRows = 0L,
      fetchBuckets = 8, fetchBucketDir = Some(run.work.resolve("buckets").toString),
      fetchIngestVerifyCount = false)

  /** Set-up: a 4-core session, the corpus and the bucketed fetch table.
    * Returns the crawl of one pass: (label, traced) => Pass.
    */
  private def prepare(run: Run, results: mutable.ArrayBuffer[(String, String, String)])
      : (String, Boolean) => Pass = {
    val spec = bulkSpec(run)
    val cfg = bulkConfig(run)
    val corpus = run.work.resolve("corpus").toString
    val spark = run.session(4)
    SyntheticCorpus.generate(spark, spec, partitions = 16)
      .write.mode("overwrite").parquet(corpus)
    deleteTree(Paths.get(cfg.fetchBucketDir.get))
    new FetchSource(spark, spark.read.parquet(corpus), run.dir("unused-state"), cfg)
      .source.queryExecution.executedPlan
    val seeds = (0L until spec.numUrls by SeedEvery.toLong)
      .map(i => SyntheticCorpus.urlFor(i, spec) -> 1)
    crawlOnce(run, cfg, corpus, seeds, _, _, results)
  }

  def bulk(run: Run): Unit = {
    val results = mutable.ArrayBuffer.empty[(String, String, String)]
    val one = (1 to 3).map { _ =>
      val (one, s) = run.timed(prepare(run, results))
      run.setups += s
      one
    }.last
    run.info("corpus_urls") = BulkUrls
    run.info("seeds") = BulkUrls / SeedEvery

    run.cold = Some(one("cold", false))
    run.legs(one)

    // every crawl of one input must schedule and fetch the same URLs,
    // whatever the core count
    run.attempt("crawls agree") {
      val agree = results.map(r => (r._2, r._3)).distinct.size == 1
      if (!agree) run.checks += Check("crawls agree", ok = false,
        results.map(r => s"${r._1}=${r._2}/${r._3}").mkString(" "))
      agree
    }
  }

  /** A warm-up crawl, then a traced one: the crawl layers' numbers in a
    * traced run of another workload.
    */
  def probe(run: Run): Unit = {
    val one = prepare(run, mutable.ArrayBuffer.empty)
    run.passes += one("probe-0", false)
    run.passes += one("probe-1", true)
  }

  private def crawlOnce(run: Run, cfg: CrawlConfig, corpus: String,
                        seeds: Seq[(String, Int)], label: String, traced: Boolean,
                        results: mutable.ArrayBuffer[(String, String, String)]): Pass = {
    val spark = run.spark
    val tracer = run.tracer
    val root = run.work.resolve("state").resolve(label)
    deleteTree(root)
    val ops = mutable.ArrayBuffer.empty[Op]
    var items = 0L
    var total = 0.0
    ListenerDrain(spark.sparkContext)
    tracer.resetPeak()
    run.attempt(s"crawl $label") {
      def spanIf[T](name: String, rid: String)(body: => T): T =
        if (traced) tracer.span(name, rid)(body) else body
      spanIf("crawl", label) {
        val runner = new WaveRunner(spark, spark.read.parquet(corpus), root.toString, cfg)
        val (_, initS) = run.timed(spanIf("crawl.init_seeds", label)(runner.initSeeds(seeds)))
        total += initS
        var w = 1
        var more = true
        while (more && w <= cfg.maxWaves) {
          val (cont, s) = run.timed(spanIf("crawl.run_wave", label) {
            tracer.note("wave", w)
            runner.runWave(w)
          })
          total += s
          ops += Op(s"wave$w", s)
          more = cont
          w += 1
        }
        // outputs and checks (untimed)
        spanIf("check.outputs", label) {
          val waves = runner.metrics().collect().map(r => (
            r.getAs[Int]("wave"), r.getAs[Long]("scheduled"), r.getAs[Long]("fetched"),
            r.getAs[Long]("failed"), r.getAs[Long]("deferred"), r.getAs[Long]("contentBytes"),
            r.getAs[Long]("newUrls"))).sortBy(_._1)
          val reconciled = waves.forall(m => m._2 == m._3 + m._4 + m._5)
          if (!reconciled) run.checks += Check(s"waves_reconcile $label", ok = false,
            waves.mkString(" "))
          // crawl-order rows plus page rows, as graft.Bench counts them
          items = waves.map(m => m._2 + m._3).sum
          if (traced) recordState(run, label, root, waves)
          // outputs are fingerprinted once per leg
          reconciled && (!(label == "cold" || label.endsWith("-0")) || {
            val order = Fingerprint.of(runner.crawlOrder().select("wave", "score", "urlHash"))
            val seen = Fingerprint.of(runner.seen())
            results += ((label, order, seen))
            run.fingerprint("crawl_order", order) & run.fingerprint("seen", seen)
          })
        }
      }
    }
    ListenerDrain(spark.sparkContext)
    val pass = Pass(label.takeWhile(_ != '-'), traced, total, items, ops.toSeq, tracer.peak)
    deleteTree(root)
    pass
  }

  /** State-layer numbers of one finished crawl, noted on its root span. */
  private def recordState(run: Run, label: String, root: Path,
                          waves: Seq[(Int, Long, Long, Long, Long, Long, Long)]): Unit = {
    val tracer = run.tracer
    val rootSpan = tracer.all.reverse.find(s => s.name == "crawl" && s.rid == label)
    rootSpan.foreach { s =>
      val bytes = treeBytes(root)
      val segments = tracer.span("state.manifests", label) {
        Seq("frontier", "processed", "metrics", "latest").map { t =>
          graft.state.SnapshotTable(run.spark, root.toString, t).currentManifest()
            .map(_.segments.size).getOrElse(0)
        }.sum
      }
      s.attrs("state_bytes") = bytes.toDouble
      s.attrs("live_segments") = segments.toDouble
      Seq("scheduled" -> waves.map(_._2), "fetched" -> waves.map(_._3),
        "failed" -> waves.map(_._4), "deferred" -> waves.map(_._5),
        "content_bytes" -> waves.map(_._6), "new_urls" -> waves.map(_._7))
        .foreach { case (k, xs) => s.attrs(k) = xs.sum.toDouble }
      s.attrs("waves") = waves.size.toDouble
    }
  }

  def treeBytes(root: Path): Long =
    if (!Files.exists(root)) 0L
    else {
      val st = Files.walk(root)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally st.close()
    }

  def deleteTree(root: Path): Unit =
    if (Files.exists(root)) {
      val st = Files.walk(root)
      try st.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally st.close()
    }
}

/** The curation workload: document and embedding queries of the
  * catalog over seeded tables, one query at a time.
  */
object Curation {
  import Main._

  val Docs = 1000
  val Vecs = 500

  /** Set-up: a 4-core session and the seeded tables. Returns the pass:
    * (label, traced, check) => Pass.
    */
  private def prepare(run: Run): (String, Boolean, Boolean) => Pass = {
    val tables = run.work.resolve("tables").toString
    val vocab = Inputs.vocabulary(run.data.resolve("vocab_sf0.1.tsv").toString)
    val planted = Inputs.write(run.session(4), tables, run.inputSeed, Docs, Vecs, vocab, parts = 4)
    run.info("planted_near_dup_docs") = planted.docs
    run.info("planted_near_dup_vecs") = planted.vecs
    pass(run, tables, _, _, _)
  }

  def run(run: Run): Unit = {
    val pass = (1 to 3).map { _ =>
      val (pass, s) = run.timed(prepare(run))
      run.setups += s
      pass
    }.last
    run.info("documents") = Docs
    run.info("embeddings") = Vecs
    run.info("near_dup_share") = Inputs.NearDupShare
    run.info("head_word_share") = Inputs.HeadShare
    run.cold = Some(pass("cold", false, true))
    run.legs(pass(_, _, false))
  }

  /** A warm-up pass, then a traced one: the query layers' numbers in a
    * traced run of another workload.
    */
  def probe(run: Run): Unit = {
    val pass = prepare(run)
    run.passes += pass("probe-0", false, false)
    run.passes += pass("probe-1", true, false)
  }

  private def pass(run: Run, tables: String, label: String, traced: Boolean,
                   check: Boolean): Pass = {
    val spark = run.spark
    ListenerDrain(spark.sparkContext)
    run.tracer.resetPeak()
    val (ops, codegenS) = run.codegen(run.queries.map { q =>
      var s = 0.0
      run.attempt(s"$q $label") {
        val fn = graft.SparkEntry.queries(q)
        if (check) {
          // the checked pass times the fingerprint action itself
          val (fp, t) = run.timed(Fingerprint.of(fn(spark, tables)))
          s = t
          run.info(s"rows.$q") = fp.takeWhile(_ != ':').toLong
          run.fingerprint(q, fp)
        } else {
          s = if (traced) tracedQuery(run, q, label, tables)
            else run.timed(fn(spark, tables).write.format("noop").mode("overwrite").save())._2
          true
        }
      }
      Op(q, s)
    })
    ListenerDrain(spark.sparkContext)
    Pass(label.takeWhile(_ != '-'), traced, ops.map(_.seconds).sum, Docs.toLong + Vecs, ops,
      run.tracer.peak, codegenS)
  }

  /** One query in three traced calls: build the DataFrame, force the
    * executed plan, run the noop write.
    */
  private def tracedQuery(run: Run, q: String, label: String, tables: String): Double = {
    val tracer = run.tracer
    val spark = run.spark
    val rid = s"$q@$label"
    val (_, s) = run.timed(tracer.span(q, rid) {
      val df = tracer.span("queries.build", rid)(graft.SparkEntry.queries(q)(spark, tables))
      tracer.span("queries.plan", rid) {
        val qe = df.queryExecution
        val plan = qe.executedPlan
        val (exchanges, nonCodegen) = planShape(plan)
        tracer.note("exchanges", exchanges)
        tracer.note("non_codegen_nodes", nonCodegen)
      }
      tracer.span("queries.exec", rid)(df.write.format("noop").mode("overwrite").save())
    })
    s
  }

  /** (exchanges, plan nodes outside whole-stage codegen) of a physical
    * plan, through adaptive wrappers, query stages and subqueries.
    */
  def planShape(plan: SparkPlan): (Int, Int) = {
    var exchanges = 0
    var nonCodegen = 0
    def visit(p: SparkPlan, inCodegen: Boolean): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => visit(a.executedPlan, inCodegen = false)
        case s: QueryStageExec => visit(s.plan, inCodegen = false)
        case w: WholeStageCodegenExec => visit(w.child, inCodegen = true)
        case i: InputAdapter => visit(i.child, inCodegen = false)
        case r: ReusedExchangeExec => exchanges += 1
        case e: Exchange =>
          exchanges += 1
          e.children.foreach(visit(_, inCodegen = false))
        case other =>
          if (!inCodegen) nonCodegen += 1
          other.children.foreach(visit(_, inCodegen))
      }
      p.subqueries.foreach(visit(_, inCodegen = false))
    }
    visit(plan, inCodegen = false)
    (exchanges, nonCodegen)
  }
}

/** Per-page costs of the core extraction functions over a fixed sample
  * of synthetic pages (traced runs only).
  */
object CoreLayer {
  import Main._

  val Pages = 300
  val Rounds = 5

  def measure(run: Run): Unit = {
    val spec = SyntheticCorpus.Spec(numUrls = 100000L, numHosts = 1000, seed = run.inputSeed)
    val ids = (0 until Pages).map(i => (i.toLong * 331L) % spec.numUrls)
    val pages = ids.map(i => (SyntheticCorpus.urlFor(i, spec), SyntheticCorpus.htmlFor(i, spec)))
    val hrefs = ids.flatMap(i => SyntheticCorpus.outlinkTargets(i, spec).zipWithIndex
      .map { case (t, j) => SyntheticCorpus.hrefFor(i, j, t, spec) })
    var sink = 0L
    def perItem(name: String, n: Int)(body: => Unit): Double = {
      val samples = (0 until Rounds).map { r =>
        val (_, s) = run.timed(run.tracer.span(name, s"core-$r")(body))
        s / n
      }
      samples.sorted.apply(Rounds / 2)
    }
    val extract = perItem("core.extract", Pages) {
      pages.foreach { case (u, h) => sink += BoilerplateExtractor.extractAll(h, u).text.length }
    }
    val parse = perItem("core.parse", Pages) {
      pages.foreach { case (_, h) => sink += HtmlDom.parse(h).hashCode }
    }
    val canonicalize = perItem("core.canonicalize", hrefs.size) {
      hrefs.foreach(u => sink += UrlNormalizer.canonicalize(u).map(_.length).getOrElse(0))
    }
    val links = pages.map { case (u, h) => BoilerplateExtractor.extractAll(h, u).links.size }
    run.info("core") = Json.Raw(Json.obj(
      "extract_us_per_page" -> extract * 1e6,
      "parse_us_per_page" -> parse * 1e6,
      "canonicalize_ns_per_url" -> canonicalize * 1e9,
      "links_per_page" -> links.sum.toDouble / Pages,
      "html_bytes_per_page" -> pages.map(_._2.getBytes(UTF_8).length.toLong).sum.toDouble / Pages,
      "sink" -> (sink & 1L)))
  }
}
