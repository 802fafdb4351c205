package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl._
import graft.functions.HashFunctions
import graft.functions.TextFunctions
import graft.operators.{Curation, Dedup, IvfAdc, IvfIndex, QualityRules, Similarity}

object Dirs {
  private def files(root: String): Seq[Path] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList
      finally s.close()
    }
  }

  def delete(root: String): Unit = {
    val p = Paths.get(root)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toList.reverse.foreach(Files.delete(_))
      finally s.close()
    }
  }

  def size(root: String): Long = files(root).map(Files.size(_)).sum

  /** Data files a sink holds after a commit (superseded versions are
    * already deleted by the commit).
    */
  def sinkFacts(root: String): Map[String, Any] = {
    val data = files(root).filter(_.getFileName.toString.endsWith(".parquet"))
    Map("sink_files" -> data.size, "sink_bytes" -> data.map(Files.size(_)).sum)
  }
}

/** Kernel cost measured from outside: the kernel alone into a noop sink,
  * minus a pass-through of the same cached rows, per row.
  */
object Kernels {
  private def noop(df: DataFrame): Double =
    Harness.secs(df.write.format("noop").mode("overwrite").save())._2

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** `df`'s rows repeated so one kernel run takes long enough to time,
    * spread over every core and cached.
    */
  def cachedCopies(df: DataFrame): DataFrame = {
    val out = df.withColumn("__copy", explode(sequence(lit(1), lit(16)))).drop("__copy")
      .repartition(df.sparkSession.sparkContext.defaultParallelism).cache()
    out.count()
    out
  }

  def nsPerRow(kernel: DataFrame, passThrough: DataFrame, rows: Long): Double = {
    val (k, p) = (0 until 5).map(_ => (noop(kernel), noop(passThrough))).unzip
    (median(k) - median(p)) * 1e9 / rows
  }
}

/** The paper's weather pipeline at fleet size: one `runMany` into a
  * Parquet sink, then late-correction upserts and a compaction.
  */
final class EtlFleet(data: JsonNode, work: String) extends Workload {
  private val manifests: Map[String, Seq[CsvManifestEntry]] =
    data.get("manifest").elements().asScala.toSeq
      .map(e => e.get("station").asText() ->
        CsvManifestEntry(e.get("path").asText(), e.get("date").asText()))
      .groupBy(_._1).map { case (st, es) => st -> es.map(_._2) }
  private val json = Some(data.get("json").asText())
  private val upserts = Harness.strings(data.get("upserts"))
  private val compactFiles = Harness.int(data.get("params"), "compact_files")
  private val keys = Seq("date_heure_utc", "id_station")
  private var lastSink: String = null

  private def report(r: PipelineResult): Map[String, Any] = Map(
    "rows_written" -> r.rowsWritten, "reconciled" -> r.countReconciled,
    "pre_total" -> r.preLoad.totalRows, "dup_by_date" -> r.preLoad.dupByDate,
    "dup_by_date_station" -> r.preLoad.dupByDateStation,
    "null_counts" -> r.preLoad.nullCounts, "post_total" -> r.postLoad.totalRows,
    "anomaly_counts" -> r.postLoad.anomalyCounts,
    "post_null_counts" -> r.postLoad.nullCounts)

  /** Untraced: `runMany`. Traced: the same public phase functions in the
    * order `runMany` calls them, each in its own span. The source scan
    * runs inside `etl.integrity`, the first action on the cached frame.
    */
  private def load(spark: SparkSession, tr: Tracer, i: Int, sink: ParquetSink,
      m: Map[String, Seq[CsvManifestEntry]]): PipelineResult =
    if (!tr.enabled) WeatherPipeline.runMany(spark, m, json, sink)
    else {
      val df = tr.span("etl.extract", i)(WeatherPipeline.unifiedMany(spark, m, json))
      df.cache()
      try {
        val pre = tr.span("etl.integrity", i)(IntegrityReport.compute(df))
        val written = tr.span("etl.load", i)(sink.overwrite(df))
        val post = tr.span("etl.post_audit", i)(QualityAudit.compute(sink.read(spark)))
        PipelineResult(written, pre, post, written == pre.totalRows)
      } finally df.unpersist()
    }

  /** Warm-up: the whole pass over a tenth of the fleet and one batch. */
  def beforeLoop(spark: SparkSession): Unit = {
    val path = s"$work/warm-sink"
    val sink = new ParquetSink(path)
    load(spark, new Tracer(spark.sparkContext, false), -1, sink,
      manifests.toSeq.sortBy(_._1).take(manifests.size / 10).toMap)
    sink.upsert(spark.read.parquet(upserts.head), keys, "date_heure_utc")
    sink.compact(spark, compactFiles)
    Dirs.delete(path)
  }

  def step(spark: SparkSession, tr: Tracer, i: Int): Seq[Op] = {
    val path = s"$work/sink-$i"
    val sink = new ParquetSink(path)
    val ops = tr.span("etl.pass", i, withStorage = true) {
      val l = Op.timed("load", i)(report(load(spark, tr, i, sink, manifests)))
      val u = upserts.zipWithIndex.map { case (batch, b) =>
        Op.timed("upsert", i)(tr.span("etl.upsert", i) {
          Map("rows" -> sink.upsert(spark.read.parquet(batch), keys, "date_heure_utc"))
        }).withInfo(Map("batch" -> b, "input_bytes" -> Dirs.size(batch)) ++ Dirs.sinkFacts(path))
      }
      val c = Op.timed("compact", i)(tr.span("etl.compact", i) {
        Map("rows" -> sink.compact(spark, compactFiles))
      }).withInfo(Dirs.sinkFacts(path))
      l +: u :+ c
    }
    if (lastSink != null) Dirs.delete(lastSink)
    lastSink = path
    ops
  }

  def finish(spark: SparkSession, ops: Seq[Op]): Map[String, Any] = Map("sink" -> lastSink)
}

/** The LLM-data curation job: curate with near-dup removal, MinHash pairs,
  * cluster representatives, repeated-span removal and Gopher repetition
  * statistics, over one generated parquet corpus.
  */
final class CorpusCuration(data: JsonNode, work: String) extends Workload {
  private val corpus = data.get("corpus").asText()
  private val small = data.get("small").asText()
  val oracleQueries = Seq("q29_minhash_neardups", "q111_span_dedup", "q139_gopher_repetition")

  /** Materialises every column of `df` into a one-row summary: row
    * count, an order-independent checksum and `extra` aggregates.
    */
  private def summary(df: DataFrame, extra: Seq[Column]): Map[String, Any] = {
    val hash = xxhash64(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)
    val row = df.agg(count(lit(1)).as("rows"),
      (bit_xor(hash).as("checksum") +: extra): _*).head()
    row.getValuesMap[Any](row.schema.fieldNames.toIndexedSeq)
  }

  private def runPass(spark: SparkSession, tr: Tracer, i: Int, path: String,
      dump: Option[String]): Map[String, Any] = {
    val docs = spark.read.parquet(path)
    def done(name: String, df: DataFrame, extra: Column*): Map[String, Any] = dump match {
      case Some(dir) =>
        df.write.mode("overwrite").parquet(s"$dir/$name")
        Map("rows" -> spark.read.parquet(s"$dir/$name").count())
      case None => summary(df, extra)
    }
    val curated = tr.span("curation.curate", i) {
      done("curate", Curation.curate(docs, Curation.Config(nearDupJaccard = Some(0.8))))
    }
    val (pairsDf, pairs) = tr.span("curation.minhash_pairs", i) {
      val found = Dedup.minHashNearDups(docs, "doc_id", "text",
        shingleSize = 3, numHashes = 16, jaccardThreshold = 0.8)
      val local = spark.createDataFrame(found.collect().toSeq.asJava, found.schema)
      (local, done("pairs", local))
    }
    val reps = tr.span("curation.representatives", i) {
      done("representatives", Dedup.nearDupRepresentatives(pairsDf),
        countDistinct(col("rep")).as("reps"))
    }
    val spans = tr.span("curation.span_dedup", i) {
      val toks = docs.select(col("doc_id"), TextFunctions.tokens(col("text")).as("__toks"))
      done("span_dedup", Dedup.spanDedup(toks, "doc_id", col("__toks"), spanLen = 8),
        sum(col("n_removed")).as("removed"))
    }
    val gopher = tr.span("curation.gopher", i) {
      done("gopher", QualityRules.gopherRepetition(docs, "doc_id", "text"))
    }
    Map("curate" -> curated, "pairs" -> pairs, "representatives" -> reps,
      "span_dedup" -> spans, "gopher" -> gopher)
  }

  /** Warm-up: the whole pass over the small oracle-sized corpus (q29's
    * oracle is an all-pairs join), keeping every output for the checks.
    */
  def beforeLoop(spark: SparkSession): Unit =
    runPass(spark, new Tracer(spark.sparkContext, false), -1, small, Some(s"$work/small")): Unit

  def step(spark: SparkSession, tr: Tracer, i: Int): Seq[Op] =
    Seq(Op.timed("pass", i)(tr.span("curation.pass", i, withStorage = true) {
      runPass(spark, tr, i, corpus, None)
    }))

  override def kernels(spark: SparkSession): Map[String, Double] = {
    import HashFunctions._
    val docs = Kernels.cachedCopies(spark.read.parquet(corpus).select(col("text")))
    val n = docs.count()
    val toks = docs.select(tokenize(col("text")).as("toks")).cache()
    toks.count()
    val feats = toks.select(distinctWordShingles(col("toks"), 3).as("feats")).cache()
    feats.count()
    try Map(
      "kernel.tokenize_ns_row" -> Kernels.nsPerRow(
        docs.select(tokenize(col("text"))), docs.select(col("text")), n),
      "kernel.shingles_ns_row" -> Kernels.nsPerRow(
        toks.select(distinctWordShingles(col("toks"), 3)), toks.select(col("toks")), n),
      "kernel.minhash64_ns_row" -> Kernels.nsPerRow(
        feats.select(minhash64(col("feats"), 16)), feats.select(col("feats")), n),
      "kernel.gram_run_stats_ns_row" -> Kernels.nsPerRow(
        toks.select(gramRunStats(col("toks"), 2)), toks.select(col("toks")), n))
    finally Seq(feats, toks, docs).foreach(_.unpersist())
  }

  def finish(spark: SparkSession, ops: Seq[Op]): Map[String, Any] = Map(
    "small_dir" -> s"$work/small",
    "oracle_sql" -> oracleQueries.map(q => q -> graft.SparkEntry.oracleSql(q)).toMap)
}

/** Served top-k lookups: one client, one probe per request, over the
  * three persisted index layouts, each response collected.
  */
final class AnnServing(data: JsonNode, work: String, inject: String) extends Workload {
  private val p = data.get("params")
  private val (dim, cells, nprobe, k) =
    (Harness.int(p, "dim"), Harness.int(p, "ivf_cells"), Harness.int(p, "nprobe"), Harness.int(p, "k"))
  private val (pqM, pqK, iters, bands) = (Harness.int(p, "pq_m"), Harness.int(p, "pq_k"),
    Harness.int(p, "kmeans_iterations"), Harness.int(p, "lsh_bands"))
  private val embeddings = data.get("embeddings").asText()
  private val schedule: IndexedSeq[(String, Int)] = data.get("schedule").elements().asScala
    .map(e => (e.get(0).asText(), e.get(1).asInt())).toIndexedSeq
  private val roots = Map("ivf" -> s"$work/ivf", "ivfadc" -> s"$work/ivfadc", "lsh" -> s"$work/lsh")
  private var probeRows: Array[Row] = Array.empty
  private var probeSchema: org.apache.spark.sql.types.StructType = null
  private var adcModel: IvfAdc.Model = null

  override def prepare(spark: SparkSession): Map[String, Double] = {
    val emb = spark.read.parquet(embeddings)
    val (_, ivfS) = Harness.secs {
      IvfIndex.writeIndex(emb, IvfIndex.train(emb, k = cells, iterations = iters), roots("ivf"))
    }
    val (model, adcS) = Harness.secs {
      val m = IvfAdc.train(emb, kCells = cells, m = pqM, pqK = pqK, iterations = iters, dim = dim)
      IvfAdc.writeIndex(emb, m, roots("ivfadc"))
      m
    }
    adcModel = model
    val (_, lshS) = Harness.secs(Similarity.writeLshIndex(emb, roots("lsh"), numBands = bands, dim = dim))
    Map("ann.build_ivf_s" -> ivfS, "ann.build_ivfadc_s" -> adcS, "ann.build_lsh_s" -> lshS)
  }

  private def probe(spark: SparkSession, ix: Int): DataFrame =
    spark.createDataFrame(java.util.List.of(probeRows(ix)), probeSchema)

  private def request(spark: SparkSession, path: String, root: String, probe: DataFrame): Array[Long] =
    (path match {
      case "ivf" => IvfIndex.topKFromIndex(spark, root, probe, k = k, nprobe = nprobe)
      case "ivfadc" => IvfAdc.topKFromIndex(spark, root, probe, nprobe = nprobe, k = k)
      case "lsh" => Similarity.bandedLshTopKFromIndex(spark, root, probe, k = k)
    }).collect().map(_.getAs[Long]("corpus_id"))

  /** Client-side: the probe pool, collected once; then one warm-up
    * request per index path (the set-ups never ran the query paths).
    */
  def beforeLoop(spark: SparkSession): Unit = {
    val probes = spark.read.parquet(data.get("probes").asText())
    probeSchema = probes.schema
    probeRows = probes.collect().sortBy(_.getAs[Long]("vec_id"))
    for (path <- roots.keys.toSeq.sorted) request(spark, path, roots(path), probe(spark, 0))
  }

  /** One block of three requests, one per index path in the seeded
    * order, so every run serves the same mix.
    */
  def step(spark: SparkSession, tr: Tracer, i: Int): Seq[Op] =
    (3 * i until 3 * i + 3).map { r =>
      val (path, ix) = schedule(r % schedule.size)
      // fault injection for the harness self-test: one request to a missing index
      val root = if (inject == "ann-request" && r == 1) s"$work/missing-index" else roots(path)
      Op.timed(s"request:$path", r)(tr.span(s"ann.$path", r, withStorage = true) {
        Map("ids" -> request(spark, path, root, probe(spark, ix)), "probe" -> ix)
      })
    }

  override def kernels(spark: SparkSession): Map[String, Double] = {
    import HashFunctions._
    val emb = spark.read.parquet(embeddings)
    val vecs = Kernels.cachedCopies(emb.select(col("embedding").cast("array<double>").as("v")))
    val n = vecs.count()
    val codes = Kernels.cachedCopies(IvfAdc.encode(emb, adcModel).select(col("codes")))
    val q = probeRows(0).getSeq[Float](probeRows(0).fieldIndex("embedding")).map(_.toDouble).toArray
    val table = Array.tabulate(pqM, pqK)((s, c) => (s * pqK + c).toDouble)
    try Map(
      "kernel.dot_ns_row" -> Kernels.nsPerRow(
        vecs.select(dotProduct(col("v"), typedLit(q))), vecs.select(col("v")), n),
      "kernel.adc_ns_row" -> Kernels.nsPerRow(
        codes.select(adcDistance(typedLit(table), col("codes"), pqM)), codes.select(col("codes")), n))
    finally Seq(codes, vecs).foreach(_.unpersist())
  }

  /** Exact top-k (untimed) for every probe the run used, for recall. */
  def finish(spark: SparkSession, ops: Seq[Op]): Map[String, Any] = {
    val used = ops.flatMap(_.info.get("probe")).map(_.asInstanceOf[Int]).distinct
    val probes = spark.createDataFrame(used.map(probeRows(_)).asJava, probeSchema)
    val exact = Similarity.bruteForceTopK(spark.read.parquet(embeddings), probes, k).collect()
      .groupBy(_.getAs[Long]("probe_id"))
      .map { case (pid, rs) => (pid - 1000000000L).toString -> rs.map(_.getAs[Long]("corpus_id")) }
    Map("exact" -> exact)
  }
}
