package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.{functions => F}

import graft.SparkEntry
import graft.io.Manifest
import graft.operators.{Dedup, Embeddings, Similarity, TextAnalysis}
import graft.streaming.Streams

/** `verbs`: the Explorer verb surface on the sf0.1 star schema, one query
  * at a time, plus manifest-skipping reads over layouts built in setup.
  * Each operation is sub-second, so the driver side (graft plan building,
  * Catalyst planning, job scheduling) is most of its time. Two of
  * `curate`'s operations on a small corpus ride along ([[Verbs.Corpus]]),
  * so graft.functions and graft.operators are timed in the same loop. */
final class Verbs(spark: SparkSession, probe: Probe, data: String,
    work: String, seed: Long) extends Workload(spark, probe, data, work, seed) {
  private val corpus = new Curate(spark, probe, data, work, seed)

  /** SparkEntry queries: aggregations, joins (asof, range), a cumulative
    * window, pivot, strings and describe. */
  private val queries = Seq("q01_agg", "q10_cumulative", "q16_pivot_wider",
    "q21_strings", "q26_asof_join", "q40_describe", "q59_range_join")

  private def table(t: String) = spark.read.parquet(s"$data/$t.parquet")

  private def layout(i: Int, t: String) = path("layout", i.toString, t)

  def build(i: Int): Unit = {
    Manifest.writeZOrdered(table("orders"), layout(i, "orders"),
      statsCols = Seq("o_custkey", "o_totalprice"),
      zCols = Seq("o_custkey", "o_totalprice"), targetFiles = 16)
  }

  // seeded predicate bands of the skipping reads
  private val rng = new scala.util.Random(seed)
  private val custLo = rng.nextInt(13000).toLong
  private val priceLo = 1000.0 + rng.nextInt(400) * 1000.0

  private def total(df: DataFrame, col: String, digits: Int) =
    df.agg(F.count(F.lit(1)).as("n"),
      F.round(F.sum(col), digits).as("total"))

  private val skips: Seq[(String, String, () => DataFrame, String)] = Seq(
    ("skip_custkey", "orders", () => total(
      Manifest.readSkipping(spark, layout(Main.Setups, "orders"), "o_custkey",
        custLo, custLo + 500), "o_totalprice", 2),
      s"""SELECT count(*) AS n, round(sum(o_totalprice), 2) AS total
          FROM orders WHERE o_custkey BETWEEN $custLo AND ${custLo + 500}"""),
    ("skip_zorder", "orders", () => total(
      Manifest.readSkippingBands(spark, layout(Main.Setups, "orders"),
        Seq(("o_custkey", custLo, custLo + 1500),
          ("o_totalprice", priceLo, priceLo + 60000.0))),
      "o_totalprice", 2),
      s"""SELECT count(*) AS n, round(sum(o_totalprice), 2) AS total
          FROM orders WHERE o_custkey BETWEEN $custLo AND ${custLo + 1500}
            AND o_totalprice BETWEEN $priceLo AND ${priceLo + 60000.0}"""))

  lazy val ops: Seq[Op] =
    queries.map { q =>
      Op(q, check => {
        val df = probe.call("graft.build")(SparkEntry.queries(q)(spark, data))
        if (check) keep(q, df) else noop(df)
      })
    } ++ skips.map { case (name, _, read, _) =>
      Op(name, check => {
        val df = probe.call("io.read_skipping")(read())
        if (check) keep(name, df) else noop(df)
      })
    } ++ corpus.ops.filter(o => Verbs.Corpus.contains(o.name))

  def checks: Map[String, Any] = Map(
    "oracle" -> (queries.map(q => q -> SparkEntry.oracleSql(q)) ++
      skips.map { case (n, _, _, sql) => n -> sql }).toMap,
    "docs" -> corpus.nDocs,
    "layout_files" -> skips.map { case (n, t, _, _) =>
      n -> Files.walk(new File(layout(Main.Setups, t)).toPath).iterator().asScala
        .count(p => p.getFileName.toString.matches("part-.*\\.parquet") &&
          !p.toString.contains("_manifest")) }.toMap)

  override def traceOnly(): Map[String, Any] = corpus.traceOnly()
}

object Verbs {
  /** The `curate` operations `verbs` runs: the signature-only pass
    * (graft.functions) and the candidate-then-verify MinHash pair finder
    * (graft.operators). */
  val Corpus = Set("sig_pass", "minhash_pairs")
}

/** `curate`: batch corpus curation, one corpus-scale operator call at a
  * time. Hashing, shuffles and the iterative cluster jobs put the time on
  * the executors; there are few, large jobs. */
final class Curate(spark: SparkSession, probe: Probe, data: String,
    work: String, seed: Long) extends Workload(spark, probe, data, work, seed) {
  private val docs = spark.read.parquet(s"$data/documents.parquet")
  private lazy val emb = spark.read.parquet(s"$data/embeddings.parquet")
  lazy val nDocs = docs.count()
  lazy val nVecs = emb.count()
  private val id = F.col("doc_id")
  private val text = F.col("text")
  private val vid = F.col("vec_id")
  private val vec = F.col("embedding")

  def build(i: Int): Unit = ()

  private def minhashPairs = Dedup.minhashDuplicatePairs(docs, id, text,
    threshold = 0.8, shingleSize = 3, numHashes = 64, bands = 8)

  private def op(name: String)(body: => DataFrame): Op =
    Op(name, check => {
      val df = probe.call(s"operators.$name")(body)
      if (check) keep(name, df) else noop(df)
    })

  lazy val ops: Seq[Op] = Seq(
    op("exact")(Dedup.exact(docs, text, id).select("doc_id", "n_chars")),
    Op("sig_pass", check => {
      val df = probe.call("functions.sig_pass")(docs.select(id,
        Dedup.minhashFromHashes(Dedup.shingleHashes(text, 3), 64).as("sig")))
      if (check) keep("sig_pass", df) else noop(df)
    }),
    op("minhash_pairs")(
      minhashPairs.withColumn("jaccard", F.round(F.col("jaccard"), 4))),
    op("ngram_pairs")(Dedup.ngramJaccardPairs(docs, id, text,
      shingleSize = 3, threshold = 0.8)
      .withColumn("jaccard", F.round(F.col("jaccard"), 4))),
    op("simhash_pairs")(Dedup.simhashDuplicatePairs(docs, id, text,
      maxDistance = 6).select("id_a", "id_b")),
    op("clusters")(Dedup.duplicateClustersStar(minhashPairs)),
    op("quality")(docs.select(id,
      TextAnalysis.qualityScore(text).as("quality"))),
    op("gopher")(TextAnalysis.gopherFilter(docs, text).select(id)),
    op("ivf_topk")(Similarity.ivfTopK(
      emb.filter(vid >= 5), vid, vec, emb.filter(vid < 5), vid, vec,
      k = 5, nlist = 16, nprobe = 16)
      .withColumn("cosine", F.round(F.col("cosine"), 6))),
    op("embedding_pairs")(Dedup.embeddingDuplicatePairs(emb, vid, vec,
      threshold = 0.999, planes = 64, bands = 4).select("id_a", "id_b")),
    op("pca") {
      val m = Embeddings.fitPca(emb, vec, k = 8)
      import spark.implicits._
      m.components.zip(m.variances).zipWithIndex
        .map { case ((c, v), j) => (j, v, c) }
        .toDF("j", "variance", "component")
    })

  def checks: Map[String, Any] = Map(
    "oracle" -> Map(
      "exact" -> SparkEntry.oracleSql("d01_exact_dedup"),
      "quality" -> SparkEntry.oracleSql("d10_quality_fingerprint"),
      "ivf_topk" -> SparkEntry.oracleSql("d14_ivf_topk")),
    "gopher_stats" -> SparkEntry.oracleSql("d41_gopher_rules"),
    "docs" -> nDocs, "vecs" -> nVecs)

  /** Candidate volume of the MinHash LSH stage, measured in the traced run
    * only (it is one extra job the timed loop does not run). */
  override def traceOnly(): Map[String, Any] = {
    val cands = Dedup.minhashLshCandidates(docs, id, text, shingleSize = 3,
      numHashes = 64, bands = 8).count()
    Map("lsh_candidates" -> cands, "verified_pairs" -> minhashPairs.count())
  }
}

/** `ingest`: 24/7 ingest as a drain of single-file micro-batches
  * (`maxFilesPerTrigger = 1`) through three streams: MinHash dedup and IVF
  * dedup, each with tiered compaction every trigger, and an upsert into a
  * manifested lake. A timed round ships three batches to each feed and
  * drains the three streams in turn, so each stream call runs three
  * triggers and its later triggers reuse the first one's segment
  * snapshots. */
final class Ingest(spark: SparkSession, probe: Probe, data: String,
    work: String, seed: Long) extends Workload(spark, probe, data, work, seed) {
  private val baseDocs = spark.read.parquet(s"$data/base_docs.parquet")
    .select("doc_id", "text")
  private val baseVecs = spark.read.parquet(s"$data/base_vecs.parquet")
    .select("vec_id", "embedding")
  private val PerRound = 3
  private val batches = new File(s"$data/docs").list().count(_.endsWith(".parquet"))
  private var shipped = 0
  private var calls = Vector.empty[Map[String, Any]]
  private var fedBytes = Vector.empty[Long]

  private def index(i: Int, what: String) = path("build", i.toString, what)
  private def live(what: String) = index(Main.Setups, what)

  def build(i: Int): Unit = {
    Dedup.writeMinhashIndex(baseDocs, F.col("doc_id"), F.col("text"),
      index(i, "minhash"), shingleSize = 3, numHashes = 64, bands = 8)
    Similarity.writeIvfIndex(baseVecs, F.col("vec_id"), F.col("embedding"),
      index(i, "ivf"), nlist = 8)
    Manifest.writeWithManifest(spark.read.parquet(s"$data/lake.parquet"),
      index(i, "lake"),
      statsCols = Seq("key"), clusterCols = Seq("key"), targetFiles = 4)
  }

  /** Copy the next batch of each stream into its feed directory, with
    * strictly increasing mtimes: the file source takes files in mtime
    * order, so this fixes the batch order. */
  private def ship(): Unit = {
    var bytes = 0L
    for (s <- Seq("docs", "vecs", "rows")) {
      val feed = new File(path("feed", s))
      feed.mkdirs()
      val name = f"b$shipped%04d.parquet"
      val dst = new File(feed, name).toPath
      Files.copy(new File(s"$data/$s/$name").toPath, dst,
        StandardCopyOption.REPLACE_EXISTING)
      if (!dst.toFile.setLastModified(1600000000000L + shipped * 2000L))
        sys.error(s"feed mtime pin failed for $dst")
      bytes += Files.size(dst)
    }
    fedBytes :+= bytes
    shipped += 1
  }

  private def stream(s: String) = Streams.readParquetStream(spark,
    path("feed", s), spark.read.parquet(s"$data/$s/b0000.parquet").schema,
    maxFilesPerTrigger = 1)

  private def drain(name: String)(body: => Unit): Unit = {
    val start = probe.nowUs
    probe.call(s"streaming.$name")(body)
    calls :+= Map("stream" -> name, "start" -> start, "end" -> probe.nowUs)
  }

  private def round(batches: Int): Unit = {
    (1 to batches).foreach(_ => ship())
    drain("ingest_dedup")(Streams.ingestDedupStream(stream("docs"),
      F.col("doc_id"), F.col("text"), live("minhash"), path("out", "docs"),
      threshold = 0.8, name = "dedup", checkpoint = Some(path("ckpt", "docs")),
      compactEvery = 1, tieredCompaction = true))
    drain("ingest_embed")(Streams.ingestEmbedStream(stream("vecs"),
      F.col("vec_id"), F.col("embedding"), live("ivf"), path("out", "vecs"),
      threshold = 0.95, name = "embed", checkpoint = Some(path("ckpt", "vecs")),
      compactEvery = 1, tieredCompaction = true))
    drain("upsert")(Streams.upsertSink(stream("rows"), "key", live("lake"),
      name = "upsert", clusterCols = Seq("key"), targetFiles = 2,
      compactEvery = 2, checkpoint = Some(path("ckpt", "rows"))))
  }

  // the warm-up round ships one batch per stream: it only needs every
  // code path once, and the run's checks cover all rounds at the end
  lazy val ops: Seq[Op] = Seq(Op("round",
    warm => round(if (warm) 1 else PerRound)))

  override def more: Boolean = shipped + PerRound <= batches

  /** Each stream call's interval (triggers are matched to calls by time;
    * the first round is the warm-up) and the bytes shipped per batch. */
  override def extra: Map[String, Any] = Map("stream_calls" -> calls,
    "warmup_batches" -> 1, "fed_bytes" -> fedBytes)

  /** The streams' outputs after the run: survivors of both dedup streams
    * and the lake's live rows, for `run.py` to compare with what a correct
    * fold of the shipped batches gives. */
  def checks: Map[String, Any] = {
    keep("survivors_docs", spark.read.parquet(path("out", "docs"))
      .select("doc_id"))
    keep("survivors_vecs", spark.read.parquet(path("out", "vecs"))
      .select("vec_id"))
    keep("lake", Manifest.readSkipping(spark, live("lake"), "key",
      Long.MinValue, Long.MaxValue).select("key", "batch", "value"))
    Map("shipped" -> shipped)
  }
}
