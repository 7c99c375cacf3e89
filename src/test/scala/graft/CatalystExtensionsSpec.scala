package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.UrlNormalizer
import graft.operators.BloomSketchAgg
import graft.plans.{CanonicalizeUrl, GraftExtensions, Kernels}

/** The custom Catalyst surface: the kernel table (interpreted +
  * codegen + SQL registration) and the typed Bloom aggregator.
  */
class CatalystExtensionsSpec extends AnyFunSuite {

  // NOTE: suites share one SparkContext; withExtensions only applies
  // to a freshly-created session, so register imperatively (same
  // builder the extensions class injects).
  private lazy val spark = {
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("graft-catalyst-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    Kernels.register(s)
    s
  }
  import spark.implicits._

  private val messy = Seq(
    "HTTP://News.Example.COM.:80/a/./b/../x.html?utm_source=t&q=1#frag",
    "http://plain.com/ok",
    "javascript:void(0)")

  test("native expression matches the core function (codegen path)") {
    val got = messy.toDF("url")
      .select(CanonicalizeUrl.canonicalize_url($"url").as("c"))
      .collect().map(r => Option(r.getString(0)))
    val want = messy.map(u => UrlNormalizer.canonicalize(u))
    assert(got.toSeq === want)
  }

  test("expression is registered for SQL via extensions") {
    messy.toDF("url").createOrReplaceTempView("messy_urls")
    val got = spark.sql(
      "SELECT canonicalize_url(url) AS c FROM messy_urls").collect()
      .map(r => Option(r.getString(0))).toSeq
    assert(got === messy.map(UrlNormalizer.canonicalize(_)))
  }

  // Real scans: a local Seq gets folded into a LocalTableScan by
  // ConvertToLocalRelation, evaluated before codegen even runs. Every
  // 50th id reads as null, so each kernel also sees null input.
  private val fixtures = "/root/testdata/sf0.001"
  private def nullEvery50(id: Column, c: Column): Column =
    when(id % 50 === 0, lit(null)).otherwise(c)

  /** One input per registration-table row: (table, id column, args). */
  private val kernelInputs: Map[String, (String, String, Seq[Column])] = {
    val text = nullEvery50($"doc_id", $"text")
    val tokens = split(lower(text), "\\W+")
    val url = nullEvery50($"doc_id",
      concat(lit("HTTP://"), upper($"source"), lit(".Example.COM.:80/a/./p/"),
        $"doc_id", lit("?utm_source=x&id="), $"doc_id", lit("#frag")))
    val vec = nullEvery50($"vec_id", $"embedding")
    def doc(args: Column*) = ("documents", "doc_id", args)
    def emb(args: Column*) = ("embeddings", "vec_id", args)
    Map(
      "canonicalize_url" -> doc(url),
      "host_of" -> doc(url),
      "graft_adjacent_pairs" -> doc(tokens),
      "graft_chunk_hashes" -> doc(tokens, lit(8), lit(4), lit(3)),
      "graft_classifier_score" -> doc(tokens, lit(1024)),
      "graft_feature_hashes" -> doc(tokens, lit(4096)),
      "graft_gopher_signals" -> doc(text),
      "graft_gram_key_seq" -> doc(tokens, lit(3)),
      "graft_gram_keys" -> doc(tokens, lit(3), lit(true)),
      "graft_lang_pick" -> doc(tokens, array(array(lit("the"), lit("and")),
        array(lit("der"), lit("und")), array(lit("el"), lit("la")))),
      "graft_minhash_sig" -> doc(tokens, lit(3), lit(24)),
      "graft_portable_simhash" -> doc(tokens, lit(32)),
      "graft_span_coverage" -> doc(tokens,
        nullEvery50($"doc_id", array(($"doc_id" % 7).cast("int"), lit(2))), lit(3)),
      "graft_token_stats" -> doc(tokens, array(lit("the"), lit("of"), lit("and"))),
      "graft_winnow_stats" -> doc(tokens, lit(3), lit(4)),
      "graft_float_dot" -> emb(vec, reverse($"embedding")),
      "graft_float_double_dot" -> emb(vec, $"embedding".cast("array<double>")),
      // (a higher-order function in the projection would take it out of
      // whole-stage codegen; lengths differ, so null, unless id % 3 = 0)
      "graft_long_sqdist" -> emb(
        nullEvery50($"vec_id", sequence(lit(0L), $"vec_id" % 64)),
        reverse(sequence($"vec_id" % 3, $"vec_id" % 64))))
  }

  /** Each kernel-bearing plan node, and whether it runs inside a
    * whole-stage codegen span.
    */
  private def kernelNodes(p: SparkPlan, inSpan: Boolean = false): Seq[Boolean] =
    p match {
      case a: AdaptiveSparkPlanExec => kernelNodes(a.executedPlan)
      case q: QueryStageExec => kernelNodes(q.plan)
      case w: WholeStageCodegenExec => kernelNodes(w.child, inSpan = true)
      case i: InputAdapter => kernelNodes(i.child)
      case n =>
        val here = n.expressions.exists(_.exists(_.isInstanceOf[StaticInvoke]))
        (if (here) Seq(inSpan) else Nil) ++ n.children.flatMap(kernelNodes(_, inSpan))
    }

  test("kernel table: codegen equals interpreted, stays in *(n)") {
    assert(kernelInputs.keySet === Kernels.table.map(_.name).toSet)
    def run(factoryMode: String, wholeStage: Boolean): Map[String, (Seq[String], SparkPlan)] = {
      val s = spark.newSession()
      s.conf.set("spark.sql.codegen.factoryMode", factoryMode)
      s.conf.set("spark.sql.codegen.wholeStage", wholeStage.toString)
      Kernels.register(s)
      kernelInputs.map { case (name, (table, id, args)) =>
        val df = s.read.parquet(s"$fixtures/$table.parquet")
          .select(col(id), call_function(name, args: _*).as("out"))
        val rows = df.collect().sortBy(_.getLong(0)).map(_.toString).toSeq
        name -> ((rows, df.queryExecution.executedPlan))
      }
    }
    val codegen = run("CODEGEN_ONLY", wholeStage = true)
    val interpreted = run("NO_CODEGEN", wholeStage = false)
    codegen.foreach { case (name, (rows, plan)) =>
      assert(rows.size === 500, name)
      if (Kernels.table.exists(k => k.name == name && k.propagateNull))
        assert(rows.exists(_.endsWith(",null]")), s"$name: no null input")
      assert(rows === interpreted(name)._1, name)
      val spans = kernelNodes(plan)
      assert(spans.nonEmpty && spans.forall(identity), s"$name:\n$plan")
      assert(!kernelNodes(interpreted(name)._2).exists(identity), name)
    }
  }

  test("BloomSketchAgg builds a mergeable sketch with no false negatives") {
    val keys = (0L until 5000L).map(i => i * 2654435761L)
    val agg = new BloomSketchAgg(expectedItems = 5000, fpp = 0.01)
    val bytes = keys.toDF("k").repartition(4).as[Long]
      .select(udaf(agg).apply($"k")).as[Array[Byte]].head()
    val bf = BloomSketchAgg.deserialize(bytes)
    keys.foreach(k => assert(bf.mightContainLong(k)))
    val falsePos = (0L until 10000L).map(i => i * 7919L + 3L)
      .count(k => !keys.contains(k) && bf.mightContainLong(k))
    assert(falsePos < 500) // ~1% fpp with margin
  }
}
