package perfbench

import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.{SparkEntry, Tables}

object Util {
  def sha(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8")).take(8).map(b => f"$b%02x").mkString

  /** Megabytes of cached blocks the session still holds. */
  def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / (1024.0 * 1024.0)

  def collect(df: DataFrame): (StructType, Array[Row]) = (df.schema, df.collect())

  /** Tables of a query's FROM list, found by the benchmark's own
    * tokenizer rather than by the program's parser. */
  def fromTables(sql: String): Set[String] = {
    val m = "(?is)\\bFROM\\s+(.*?)(?:\\bWHERE\\b|\\bGROUP\\b|\\bORDER\\b|\\bLIMIT\\b|$)".r
      .findFirstMatchIn(sql).map(_.group(1)).getOrElse("")
    m.split(",").map(_.trim.split("\\s+")(0).toLowerCase).filter(_.nonEmpty).toSet
  }

  def addTo(m: mutable.Map[String, Double], k: String, v: Double): Unit =
    m(k) = m.getOrElse(k, 0.0) + v
}

/** The committed measured workload: (recorded seconds, SQL) rows, with
  * the reference's runtime bucket of each (0 for <= 1 s, else
  * floor(log2 s), capped at 8). */
object Band {
  final case class Query(seconds: Double, sql: String) {
    def bucket: Int = if (seconds <= 1.0) 0 else math.min(8, math.floor(math.log(seconds) / math.log(2)).toInt)
  }
  val Path = "data/band/campaign_x160_c2.cp"
  val PoolPerBucket = 24

  def load(path: String): Seq[Query] =
    Files.readAllLines(Paths.get(path)).toArray(Array.empty[String]).toSeq.flatMap { line =>
      line.split("\t", 2) match {
        case Array(s, sql) if s.nonEmpty && s.head.isDigit && sql.startsWith("SELECT") =>
          s.toDoubleOption.map(Query(_, sql))
        case _ => None
      }
    }

  /** The sql_lab pool: per bucket, the first `PoolPerBucket` distinct
    * queries by SHA-256 of their text. `perfbench/run.py` samples it. */
  def pool(all: Seq[Query]): Seq[Query] =
    all.groupBy(_.sql).values.map(_.head).toSeq.groupBy(_.bucket).toSeq.sortBy(_._1)
      .flatMap { case (_, qs) => qs.sortBy(q => Util.sha(q.sql)).take(PoolPerBucket) }
}

/** ops_pipeline: the data-pipeline operator queries, each result fully
  * collected, in a fixed order. The round is a fresh JVM's first, and
  * its first query pays most of the JVM's JIT compilation: in an order
  * drawn from the seed that cost moved between queries, and `round_s`
  * of runs with different seeds spread by up to a quarter. */
final class OpsPipeline(opts: Opts) extends Workload {
  private var queries: Map[String, (SparkSession, String) => DataFrame] = Map.empty
  private var oracle: Map[String, String] = Map.empty
  private var fingerprint = 0L

  def setup(spark: SparkSession, ctx: Ctx): Unit = {
    Tables.registerAll(spark, opts.data)
    queries = SparkEntry.queries
    oracle = SparkEntry.oracleSql
    fingerprint = Tables.canonFingerprint(opts.data)
  }

  def round(spark: SparkSession, ctx: Ctx): Map[String, Double] = {
    val figs = mutable.Map("round_s" -> 0.0, "round_cpu_s" -> 0.0, "cache.leaked_mb" -> 0.0)
    OpsPipeline.Queries.foreach { q =>
      ctx.op(s"ops.$q", q)(Util.collect(queries(q)(spark, opts.data))).foreach {
        case ((schema, rows), secs) =>
          Util.addTo(figs, "round_s", secs)
          Util.addTo(figs, "round_cpu_s", ctx.tracer.lastCpuS)
          Util.addTo(figs, s"ops.${OpsPipeline.Families(q)}_s", secs)
          Util.addTo(figs, s"ops.${q.takeWhile(_ != '_')}_s", secs)
          if (q == "q115_bpe_merges") ctx.check(q, Checks.bpeMerges(rows), "BPE merge table")
          else ctx.output(s"ops:$q", Util.sha(oracle(q)), fingerprint, Canon.summarize(schema, rows))
      }
      Util.addTo(figs, "cache.leaked_mb", Util.storageMb(spark))
      spark.catalog.clearCache()
    }
    figs.toMap
  }
}

object OpsPipeline {
  /** Every operator query of the bench headline list, by family. */
  val Families: Map[String, String] = Seq(
    "dedup" -> Seq("q30_dedup_exact", "q31_minhash_sig", "q32_lsh_candidates", "q33_ngram_jaccard",
      "q34_simhash", "q42_embed_neardup", "q49_dedup_clusters", "q79_chunk_dedup",
      "q100_semantic_dedup", "q103_containment", "q109_edit_distance", "q110_dup_spans"),
    "ann" -> Seq("q38_ann_topk", "q40_srp_ann", "q43_ivf_ann", "q44_kmeans_step",
      "q47_srp_multiprobe", "q78_pq_adc", "q85_ivf_pq"),
    "text" -> Seq("q36_text_analyze", "q57_vocab", "q58_top_terms", "q59_clean_text",
      "q80_bigram_lm", "q89_bm25_search", "q92_pii_redact", "q95_nb_quality",
      "q106_inverted_index", "q115_bpe_merges"),
    "sketch" -> Seq("q66_bloom_contamination", "q67_hll_cardinality", "q68_cms_heavy_hitters",
      "q72_bloom_join", "q73_bloom_anti_join"),
    "stats" -> Seq("q50_stats_model", "q71_profile", "q82_exact_quantiles",
      "q84_incremental_stats", "q104_pivot", "q105_cube", "q117_grouped_quantiles"),
    "events" -> Seq("q41_window_events", "q54_sessionize", "q55_asof_join", "q86_range_join",
      "q87_interval_join", "q111_funnel", "q112_retention", "q113_rolling_active",
      "q114_transitions"),
    "multimodal" -> Seq("q75_image_decode", "q96_audio_decode", "q97_video_decode",
      "q102_image_resize", "q116_image_flip"),
    "curation" -> Seq("q48_curation", "q51_contamination", "q52_pack_sequences",
      "q53_repetition", "q56_shuffle_shards", "q76_mixture_sample", "q90_groupaware_split",
      "q91_training_order", "q93_domain_cap", "q94_token_budget", "q99_corpus_diff",
      "q101_temperature_sample", "q107_weighted_sample", "q108_context_windows"),
    "sources" -> Seq("q65_partition_prune", "q77_zorder_box", "q81_orc_roundtrip",
      "q83_upsert", "q88_json_extract", "q98_schema_evolution"),
  ).flatMap { case (f, qs) => qs.map(_ -> f) }.toMap

  /** The queries a round runs, in this order: the bloom-filter trio and
    * one query of each of four more families. */
  val Queries: Seq[String] = Seq(
    "q66_bloom_contamination", "q72_bloom_join", "q73_bloom_anti_join", "q115_bpe_merges",
    "q30_dedup_exact", "q83_upsert", "q107_weighted_sample")
}

/** sql_lab: catalog SQL queries, then the lab's labelling of a fixed,
  * runtime-stratified sample of the committed measured workload
  * (`perfbench/run.py` draws it), both in a fixed order, for the same
  * reason as in ops_pipeline. */
final class SqlLab(opts: Opts) extends Workload {
  private var sample: Seq[Band.Query] = Nil
  private var queries: Map[String, (SparkSession, String) => DataFrame] = Map.empty
  private var oracle: Map[String, String] = Map.empty
  private var fingerprint = 0L
  private var executor: graft.lab.Executor = _

  def setup(spark: SparkSession, ctx: Ctx): Unit = {
    Tables.registerAll(spark, opts.data)
    queries = SparkEntry.queries
    oracle = SparkEntry.oracleSql
    fingerprint = Tables.canonFingerprint(opts.data)
    sample = Band.load(opts.sample)
    executor = new graft.lab.Executor(spark)
  }

  def round(spark: SparkSession, ctx: Ctx): Map[String, Double] = {
    val figs = mutable.Map("sql_catalog_s" -> 0.0, "lab.analyze_s" -> 0.0,
      "lab.light_s" -> 0.0, "lab.heavy_s" -> 0.0, "round_cpu_s" -> 0.0)
    SqlLab.Catalog.foreach { q =>
      ctx.op("sql.catalog", q)(Util.collect(queries(q)(spark, opts.data))).foreach {
        case ((schema, rows), secs) =>
          Util.addTo(figs, "sql_catalog_s", secs)
          Util.addTo(figs, "round_cpu_s", ctx.tracer.lastCpuS)
          ctx.output(s"catalog:$q", Util.sha(oracle(q)), fingerprint, Canon.summarize(schema, rows))
      }
    }
    var labels = 0
    sample.foreach { q =>
      val id = s"band:${Util.sha(q.sql)}"
      // the result, for the DuckDB comparison; a query whose join result
      // is empty may have its scans pruned out of the plan by Catalyst or
      // by adaptive execution, so its plan need not name every table
      val empty = ctx.op("lab.verify", id)(Util.collect(spark.sql(q.sql))).map {
        case ((schema, rows), _) =>
          ctx.output(id, Util.sha(q.sql), fingerprint, Canon.summarize(schema, rows, positional = true))
          rows.forall(r => (0 until r.length).forall(r.isNullAt))
      }.getOrElse(false)
      ctx.op("lab.analyze", id)(executor.analyze(q.sql)).foreach { case (run, secs) =>
        labels += 1
        Util.addTo(figs, "lab.analyze_s", secs)
        Util.addTo(figs, "round_cpu_s", ctx.tracer.lastCpuS)
        if (q.bucket <= 2) Util.addTo(figs, "lab.light_s", secs)
        if (q.bucket >= 6) Util.addTo(figs, "lab.heavy_s", secs)
        val scanned = Checks.scannedTables(run.planJson.getOrElse(""))
        val from = Util.fromTables(q.sql)
        ctx.check(id, run.seconds > 0 && (from.subsetOf(scanned) || (empty && scanned.isEmpty)),
          s"runtime ${run.seconds}, plan scans ${scanned.mkString(",")} for FROM ${from.mkString(",")}")
      }
    }
    figs("lab_labels_per_s") = labels / figs("lab.analyze_s")
    figs("round_s") = figs("sql_catalog_s") + figs("lab.analyze_s")
    figs.toMap
  }
}

object SqlLab {
  /** The catalog SQL queries a round runs. */
  val Catalog: Seq[String] = Seq(
    "q04_filter_like", "q11_join_theta", "q14_orderby_limit", "q25_semi_join")
}

/** estimator: parse, encode, GBT fit and six-checkpoint scoring of a
  * seeded sample of the committed measured workload. */
final class EstimatorBench(opts: Opts) extends Workload {
  import EstimatorBench._
  private var db: graft.model.DbModel = _
  private var statsJson = ""
  private var models: Seq[(String, String)] = Nil
  private var sample: Seq[Band.Query] = Nil
  private var figures = Map.empty[String, Double]

  override def setupFigures: Map[String, Double] = figures
  // a set-up here takes a fifth of a second, and the median of three
  // spread by a third between runs; seven steady it
  override def setupReps: Int = 7

  def setup(spark: SparkSession, ctx: Ctx): Unit = {
    val statsPath = opts.repoFile(StatsPath)
    val (m, secs) = ctx.tracer.timed("model.collect")(graft.model.StatsCollector.collect(
      spark, opts.repoFile("data/band/x160"), Tables.names.take(7), cachePath = Some(statsPath)))
    db = m
    figures = Map("model.collect_s" -> secs)
    statsJson = Files.readString(Paths.get(statsPath))
    models = Models.map(n => n -> Files.readString(Paths.get(opts.repoFile(s"data/band/models/$n.json"))))
    val all = Band.load(opts.repoFile(Band.Path))
    sample = new Random(opts.seed).shuffle(all).take(SampleSize)
  }

  def round(spark: SparkSession, ctx: Ctx): Map[String, Double] = {
    import spark.implicits._
    val figs = mutable.Map("round_cpu_s" -> 0.0)
    // parse
    var t = 0.0
    sample.foreach { q =>
      ctx.op("ir.parse", "parse")(graft.ir.Frontend.parseSql(q.sql, Some(db))).foreach { case (plan, s) =>
        t += s
        Util.addTo(figs, "round_cpu_s", ctx.tracer.lastCpuS)
        val got = Checks.planTables(plan)
        ctx.check("parse", got == Util.fromTables(q.sql), s"plan tables $got for ${q.sql.take(200)}")
      }
    }
    figs("ir.parse_s") = t
    figs("parse_qps") = sample.size / t
    // encode
    t = 0.0
    sample.foreach { q =>
      ctx.op("encode.encode", "encode")(graft.encode.Encoder.encodeQuery(db, q.sql)).foreach { case (enc, s) =>
        t += s
        Util.addTo(figs, "round_cpu_s", ctx.tracer.lastCpuS)
        val bad = enc.preorder.find(n => Widths.get(n.nodeType).forall(_ != n.vector.length))
        ctx.check("encode", bad.isEmpty,
          bad.map(n => s"${n.nodeType} width ${n.vector.length}").getOrElse(""))
      }
    }
    figs("encode.encode_s") = t
    figs("encode_qps") = sample.size / t
    // GBT fit on the CRC 3:1 split, holdout prediction
    val (train, hold) = sample.partition(q => !isHoldout(q.sql))
    ctx.op("estimate.train", "train") {
      val (feats, fs) = ctx.tracer.timed("estimate.featurize")(
        train.map(q => (graft.estimate.Estimator.featurizeWith(db, q.sql, "gerelt"), q.seconds)))
      val (model, ms) = ctx.tracer.timed("estimate.gbt_fit")(
        graft.estimate.Estimator.trainOnFeatures(spark, feats, maxIter = GbtIterations))
      val (preds, ps) = ctx.tracer.timed("estimate.predict")(hold.map(q =>
        model.predictLog2(graft.estimate.Estimator.featurizeWith(db, q.sql, "gerelt"))))
      figs("estimate.featurize_s") = fs
      figs("estimate.gbt_fit_s") = ms
      figs("estimate.predict_s") = ps
      (feats, preds)
    }.foreach { case ((feats, preds), s) =>
      figs("train_s") = s
      Util.addTo(figs, "round_cpu_s", ctx.tracer.lastCpuS)
      val truth = hold.map(q => log2(q.seconds))
      val med = Main.median(train.map(q => log2(q.seconds)))
      val mae = preds.zip(truth).map { case (p, y) => math.abs(p - y) }.sum / truth.size
      val base = truth.map(y => math.abs(med - y)).sum / truth.size
      figs("estimate.holdout_mae") = mae
      ctx.check("train", mae < base, s"holdout MAE $mae not below the median's $base")
    }
    // scoring with each checkpoint
    val df = sample.map(_.sql).toDF("sql")
    val input = sample.map(_.sql).groupBy(identity).view.mapValues(_.size).toMap
    t = 0.0
    var rows = 0L
    models.foreach { case (name, json) =>
      val scored = ctx.tracer.timed(s"score.$name") {
        scala.util.Try(graft.estimate.Scoring.scoreWorkloadAny(spark, df, "sql", json, statsJson)
          .select("sql", "log2_seconds").as[(String, Double)].collect())
      }
      scored match {
        case (scala.util.Success(out), s) =>
          t += s
          Util.addTo(figs, "round_cpu_s", ctx.tracer.lastCpuS)
          figs(s"score.${name}_s") = s
          rows += out.length
          val nan = out.count(_._2.isNaN)
          ctx.bulk(out.length, nan) // one operation per scored row
          val counts = out.groupBy(_._1).view.mapValues(_.length).toMap
          ctx.check(s"score.$name", counts == input, "scored rows differ from the input rows")
        case (scala.util.Failure(e), _) =>
          ctx.op(s"score.$name", s"score.$name")(throw e)
      }
      // scores must not depend on how the rows are partitioned
      ctx.op("score.repartition", s"score.$name.repartition") {
        val slice = sample.take(RepartitionRows).map(_.sql).toDF("sql")
        def score(d: DataFrame) = graft.estimate.Scoring.scoreWorkloadAny(spark, d, "sql", json, statsJson)
          .select("sql", "log2_seconds").as[(String, Double)].collect().toMap
        (score(slice.coalesce(1)), score(slice.repartition(3)))
      }.foreach { case ((one, three), _) =>
        ctx.check(s"score.$name.repartition", one.keySet == three.keySet &&
          one.forall { case (k, v) => three(k).equals(v) }, "scores change with the partitioning")
      }
    }
    figs("score_qps") = rows / t
    // generators: output discarded
    val (_, gs) = ctx.tracer.timed("gen.generate") {
      (0 until GenQueries).map { i =>
        val g = new graft.gen.RandomQueryGen(db, opts.seed * 1000 + i).randomize()
        val b = new graft.gen.QueryBuilder(db, opts.seed * 1000 + i)
        b.addRelation(); b.addProjection(); b.addCondition()
        (g.toSql(pretty = false), b.q.toSql(pretty = false))
      }
    }
    figs("gen.generate_s") = gs
    figs("round_s") = figs("ir.parse_s") + figs("encode.encode_s") + figs.getOrElse("train_s", 0.0) + t
    figs.toMap
  }
}

object EstimatorBench {
  val StatsPath = "data/band/x160/stats.json"
  val Models: Seq[String] = Seq("gru", "gru4", "mscn", "neonet", "relcnn", "treelstm")
  /** The reference's node widths (relation, projection, selection, join). */
  val Widths = Map("relation" -> 63, "projection" -> 69, "selection" -> 112, "join" -> 203)
  val SampleSize = 800
  val GbtIterations = 3
  val RepartitionRows = 48
  val GenQueries = 40
  def log2(s: Double): Double = math.log(math.max(s, 1e-3)) / math.log(2)
  /** Held out iff the SQL's CRC32 low byte is below 64 (about a quarter). */
  def isHoldout(sql: String): Boolean = {
    val c = new java.util.zip.CRC32()
    c.update(sql.getBytes("UTF-8"))
    (c.getValue & 0xff) < 64
  }
}
