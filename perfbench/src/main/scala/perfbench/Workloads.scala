package perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import graft.functions.{TopKFunctions, VectorFunctions}
import graft.operators.{Pipeline, Search, Shred}
import graft.sources.PdfText
import graft.streaming.{DedupIndexStream, SearchIndexStream, VersionedState}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** What one measured operation produced: per-layer counters and a check
  * run afterwards, outside the op's timing. `check` returns the problems
  * it found. */
final case class OpOut(counters: () => Map[String, Double],
    check: () => Seq[String])

trait Workload {
  def name: String
  /** The parent span every op is recorded under when traced. */
  def opSpan: String
  /** Measured ops a run makes even past `--seconds`. */
  def minOps: Int
  /** Untimed ops between the cold op 0 and the measured window. */
  def warmOps: Int
  /** Set-ups per run; `setup_s` is their median. */
  def setups: Int = 3
  /** When true, the cold op 0 is part of the single set-up: `setup_s` is
    * the set-up plus op 0, the first pass in a fresh JVM. */
  def coldOpIsSetup: Boolean = false
  /** Build inputs and engine-side state; repeated calls rebuild them. */
  def setup(): Unit
  /** Untimed preparation before op `i` (e.g. a fresh copy of state). */
  def prepare(i: Int): Unit = ()
  def op(i: Int, tr: Tracer): OpOut
  /** Counters taken once when the run ends. */
  def finalCounters(): Map[String, Double] = Map.empty
  /** Counters read from the child spans of one traced op: figures of the
    * plans the engine executed, not of the generated inputs. */
  def spanCounters(children: Seq[Span]): Map[String, Double] = Map.empty
  /** Known engine behaviour the run surfaces, one line each. */
  def notes(counters: Map[String, Double]): Seq[String] = Nil
}

object Fs {
  def size(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).filter(f => Files.isRegularFile(f))
      .mapToLong(f => Files.size(f)).sum()

  def copy(from: Path, to: Path): Unit =
    Files.walk(from).forEach { f =>
      val t = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t) else Files.copy(f, t)
    }
}

/** Counts and times the label parser from inside the `parse` argument of
  * `Pipeline.processChunks`; it runs in executor tasks of this JVM. */
object ParseProbe {
  val ns = new AtomicLong
  val bytes = new AtomicLong
  val empty = new AtomicLong
  /** Extracted text by content hash of the PDF, for the output check. */
  val texts = new ConcurrentHashMap[Int, String]()

  def parse(pdf: Array[Byte]): String = {
    val t0 = System.nanoTime()
    val s = PdfText.extract(pdf)
    ns.addAndGet(System.nanoTime() - t0)
    bytes.addAndGet(pdf.length)
    if (s.isEmpty) empty.incrementAndGet()
    texts.put(java.util.Arrays.hashCode(pdf), s)
    s
  }

  def snapshot(): Array[Long] = Array(ns.get, bytes.get, empty.get)
}

object Checks {
  val ChunkSize = 1512
  val Overlap = 256

  /** Chunks of one text, in index order, must each be a contiguous
    * substring of at most 1512 chars; consecutive chunks may overlap by at
    * most 256 chars and leave no non-space gap; together they cover the
    * text from its first to its last character. */
  def chunksRebuild(text: String, chunks: Seq[String]): Option[String] = {
    if (chunks.isEmpty) return Some("no chunks")
    var prevStart = -1
    var prevEnd = 0
    for ((c, k) <- chunks.zipWithIndex) {
      if (c.length > ChunkSize) return Some(s"chunk $k has ${c.length} chars")
      val at = text.indexOf(c, prevStart + 1)
      if (at < 0) return Some(s"chunk $k is not a substring after chunk ${k - 1}")
      if (k == 0 && text.substring(0, at).trim.nonEmpty)
        return Some("text before the first chunk")
      if (k > 0) {
        if (at > prevEnd && text.substring(prevEnd, at).trim.nonEmpty)
          return Some(s"gap before chunk $k")
        if (prevEnd - at > Overlap)
          return Some(s"chunk $k overlaps by ${prevEnd - at} chars")
      }
      prevStart = at
      prevEnd = at + c.length
    }
    if (text.substring(prevEnd).trim.nonEmpty) Some("text after the last chunk")
    else None
  }
}

/** The reference lifecycle on `n` generated products, from the API JSON to
  * the enriched chunk table written as parquet. Each stage's output is
  * materialized in memory before the next stage starts, so every stage is
  * timed on its own. Every pass starts from an empty store and empty
  * tables. Set-up is input generation plus the cold first pass, which
  * a fresh JVM pays once per job. */
final class Ingest(spark: SparkSession, gen: Gen, n: Int, work: Path) extends Workload {
  import spark.implicits._
  val name = "ingest"
  val opSpan = "ingest.pass"
  val minOps = 2
  val warmOps = 1
  override val setups = 1
  override val coldOpIsSetup = true
  private var products: Vector[Product] = Vector.empty
  private var jsons: Seq[String] = Nil
  private var pdfs: Map[String, Array[Byte]] = Map.empty
  private val fetches = new AtomicLong

  def setup(): Unit = {
    products = gen.products(n)
    jsons = products.map(_.json)
    pdfs = products.map(p => p.pdffile -> p.pdf).toMap
  }

  /** Intermediate tables of a pass stay cached in memory; they are
    * released when the pass ends. */
  private val held = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
  private def materialize(df: DataFrame): DataFrame = {
    val c = df.cache(); c.count(); held += c; c
  }

  private def write(df: DataFrame, p: Path): DataFrame = {
    df.write.mode("overwrite").parquet(p.toString)
    spark.read.parquet(p.toString)
  }

  private def emptyMeta: DataFrame =
    Seq.empty[(String, String, String, Long, String, String, String, String, String)]
      .toDF("PRODUCT_NAME", "STAGE_FILE_PATH", "ORIGINAL_URL", "FILE_SIZE_BYTES",
        "PROCESSING_STATUS", "EPAREGNO", "PDF_FILE_NAME", "PDFFILE_ACCEPTED_DATE",
        "PDFFILE")
      .withColumn("UPLOAD_TIMESTAMP", current_timestamp())
      .withColumn("ID", lit(null).cast("long"))

  private def emptyChunks: DataFrame =
    Seq.empty[(String, Long, String, String, Int, String)]
      .toDF("RELATIVE_PATH", "SIZE", "FILE_URL", "EPAREGNO", "CHUNK_INDEX", "CHUNK")

  private def fetch(pdffile: String): Array[Byte] = {
    fetches.incrementAndGet()
    pdfs(pdffile)
  }

  /** Releases the previous pass's tables and files, even if it threw. */
  override def prepare(i: Int): Unit = {
    held.foreach(_.unpersist(blocking = true))
    held.clear()
    VersionedState.deleteTree(work.resolve("ingest"))
  }

  override def spanCounters(children: Seq[Span]): Map[String, Double] =
    Map("sources.store_files_scanned" -> children.map(_.stats.binaryFilesRead).sum.toDouble)

  def op(i: Int, tr: Tracer): OpOut = {
    val dir = work.resolve(s"ingest/pass-$i")
    val store = dir.resolve("store").toString
    val p0 = ParseProbe.snapshot()
    val f0 = fetches.get
    val star = tr.span("shred") {
      Shred.shredJson(spark, jsons).map { case (t, df) => t -> materialize(df) }
    }
    val toDl = tr.span("pipeline.pdf_to_download") {
      materialize(Pipeline.pdfToDownload(star("products"), star("pdffiles"), emptyMeta))
    }
    val fetched = tr.span("pipeline.download_and_store") {
      Pipeline.downloadAndStore(toDl, fetch, store)
    }
    val meta1 = tr.span("pipeline.merge_metadata") {
      materialize(Pipeline.mergeMetadata(emptyMeta, fetched))
    }
    val toChunk = tr.span("pipeline.pdf_to_chunk") {
      materialize(Pipeline.pdfToChunk(spark, store, meta1))
    }
    val chunks = tr.span("pipeline.process_chunks") {
      materialize(Pipeline.processChunks(emptyChunks, toChunk, ParseProbe.parse))
    }
    val meta2 = tr.span("pipeline.mark_chunked") {
      materialize(Pipeline.markChunked(meta1, chunks))
    }
    val enriched = tr.span("pipeline.update_category") {
      write(Pipeline.updateCategory(chunks, star("products"),
        star("companyinfo"), star("types")), dir.resolve("chunks_enriched"))
    }
    val p1 = ParseProbe.snapshot()
    lazy val nChunks = enriched.count().toDouble
    OpOut(() => Map(
      "sources.pdf_extract_ms" -> (p1(0) - p0(0)) / 1e6,
      "sources.pdf_bytes" -> (p1(1) - p0(1)).toDouble,
      "sources.pdf_empty" -> (p1(2) - p0(2)).toDouble,
      "sources.put_calls" -> (fetches.get - f0).toDouble,
      "functions.chunks_out" -> nChunks,
      "functions.chunks_per_label" -> nChunks / products.size),
      () => check(meta2, enriched))
  }

  private def check(meta: DataFrame, enriched: DataFrame): Seq[String] = {
    val problems = Seq.newBuilder[String]
    val status = meta.select("EPAREGNO", "PROCESSING_STATUS").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    if (status.size != products.size)
      problems += s"metadata has ${status.size} rows, expected ${products.size}"
    status.filter(_._2 != "CHUNKED").take(3)
      .foreach { case (k, v) => problems += s"$k ends $v, not CHUNKED" }
    val rows = enriched.select("EPAREGNO", "CHUNK_INDEX", "CHUNK", "CATEGORY_EPA_TYPE")
      .collect().groupBy(_.getString(0))
    for (p <- products) {
      val extracted = ParseProbe.texts.get(java.util.Arrays.hashCode(p.pdf))
      if (extracted != p.text) problems += s"${p.regno}: extracted text differs"
      val mine = rows.getOrElse(p.regno, Array.empty[Row]).sortBy(_.getInt(1))
      if (!mine.map(_.getInt(1)).sameElements(mine.indices))
        problems += s"${p.regno}: chunk indexes are not 0..${mine.length - 1}"
      Checks.chunksRebuild(p.text, mine.map(_.getString(2)).toSeq)
        .foreach(e => problems += s"${p.regno}: $e")
      val cats = mine.map(r => Option(r.getSeq[String](3)).map(_.toSeq)).distinct
      if (!cats.forall(_ == p.types))
        problems += s"${p.regno}: categories ${cats.mkString} != ${p.types}"
    }
    problems.result()
  }
}

/** Closed-loop BM25 top-10 lookups from one client over a cached chunk
  * table. */
final class SearchWl(spark: SparkSession, gen: Gen, seed: Long, nDocs: Int)
    extends Workload {
  import spark.implicits._
  val name = "search"
  val opSpan = "search.lookup"
  // lookups keep getting faster for 100+ ops as the JIT compiles more of
  // Spark's planning and scheduling code; a window of a fixed op count,
  // longer than `--seconds` on a 4-core box, keeps a slow run from
  // measuring earlier, slower ops
  val minOps = 16
  val warmOps = 15
  // one set-up is a fraction of a second: more repeats steady the median
  override val setups = 9
  private var corpus: Vector[(Long, String)] = Vector.empty
  private var docsDf: DataFrame = _
  private lazy val oracle = new Bm25Oracle(corpus)

  def setup(): Unit = {
    Option(docsDf).foreach(_.unpersist(blocking = true))
    corpus = gen.corpus(nDocs, new SplittableRandom(seed * 17 + 3))
    docsDf = corpus.toDF("doc_id", "text").cache()
    docsDf.count()
  }

  def op(i: Int, tr: Tracer): OpOut = {
    val terms = gen.queryTerms(new SplittableRandom(seed * 1000003L + i))
    val bm = tr.span("search.bm25") {
      Search.bm25(docsDf, terms)
        .orderBy(col("score").desc, col("doc_id").asc).limit(10)
        .select("doc_id", "score").collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
    }
    OpOut(() => Map.empty, () => checkBm25(terms, bm))
  }

  private def checkBm25(terms: Seq[String], got: Seq[(Long, Double)]): Seq[String] = {
    val want = oracle.top(terms, 10)
    val scores = oracle.scores(terms)
    if (got.length != want.length)
      return Seq(s"bm25 ${terms.mkString(",")}: ${got.length} results, expected ${want.length}")
    got.zip(want).zipWithIndex.flatMap { case (((gid, gs), (wid, ws)), k) =>
      val ok = math.abs(gs - ws) <= 1e-9 * math.max(1.0, math.abs(ws)) &&
        (gid == wid || math.abs(scores.getOrElse(gid, Double.NaN) - ws) <= 1e-9)
      if (ok) None else Some(s"bm25 ${terms.mkString(",")} rank $k: ($gid,$gs) != ($wid,$ws)")
    }
  }

  override def spanCounters(children: Seq[Span]): Map[String, Double] =
    Map("search.bm25.tokens_scanned_per_result" ->
      children.filter(_.name == "search.bm25").map(_.stats.generatedRows).sum / 10.0)

  override def finalCounters(): Map[String, Double] = {
    val info = spark.sparkContext.getRDDStorageInfo
    Map("search.cached_rdds" -> info.length.toDouble,
      "spark.cached_mb" -> info.map(_.memSize).sum / 1048576.0)
  }

  override def notes(c: Map[String, Double]): Seq[String] = Seq(
    f"Search.bm25 caches its per-doc length frame on every call (Search.scala:33) and never releases it: ${c("search.cached_rdds")}%.0f cached RDDs, ${c("spark.cached_mb")}%.2f MB held at the end, against the 1 frame the benchmark cached itself.") ++
    c.get("search.bm25.tokens_scanned_per_result").map(t =>
      f"Search.bm25 tokenizes the whole corpus on each lookup: its Generate nodes put out $t%.0f tokens per returned result (the corpus has ${oracle.totalTokens / 10.0}%.0f per result).")
}

/** Closed-loop vector top-10 lookups from one client: `cosine_sim` against
  * every cached chunk vector, then `top_k_by_score`. */
final class VectorWl(spark: SparkSession, gen: Gen, seed: Long, nVecs: Int,
    dim: Int) extends Workload {
  import spark.implicits._
  val name = "vector"
  val opSpan = "vector.lookup"
  // a fixed op count, as on search
  val minOps = 50
  val warmOps = 25
  private var vecs: Vector[Array[Double]] = Vector.empty
  private var vecDf: DataFrame = _

  def setup(): Unit = {
    Option(vecDf).foreach(_.unpersist(blocking = true))
    vecs = gen.vectors(nVecs, dim, new SplittableRandom(seed * 19 + 5))
    vecDf = vecs.indices.map(_.toLong).zip(vecs).toDF("id", "vec").cache()
    vecDf.count()
  }

  def op(i: Int, tr: Tracer): OpOut = {
    val r = new SplittableRandom(seed * 1000003L + i)
    val q = Array.fill(dim)(Gen.gaussian(r))
    val vt = tr.span("search.vec") {
      vecDf.select(col("id"), VectorFunctions.cosine_sim(col("vec"), typedLit(q)).as("s"))
        .agg(TopKFunctions.top_k_by_score(col("s"), col("id"), 10).as("top"))
        .collect().head.getSeq[Row](0)
        .map(r => (r.getLong(1), r.getDouble(0)))
    }
    OpOut(() => Map.empty, () => checkVec(q, vt))
  }

  private def checkVec(q: Array[Double], got: Seq[(Long, Double)]): Seq[String] = {
    val want = vecs.indices.map(j => (j.toLong, Bm25Oracle.cosine(vecs(j), q)))
      .sortBy { case (id, s) => (-s, id) }.take(10)
    if (got == want) Nil else Seq(s"vector top-10 ${got.take(3)} != ${want.take(3)}")
  }
}

/** Brute-force BM25 and cosine scorers, written from the formulas. */
final class Bm25Oracle(corpus: Vector[(Long, String)]) {
  private val K1 = 1.2
  private val B = 0.75
  private val tf: Vector[(Long, Map[String, Int], Int)] = corpus.map { case (id, t) =>
    val toks = t.split(" ", -1)
    (id, toks.groupBy(identity).view.mapValues(_.length).toMap, toks.length)
  }
  val totalTokens: Long = tf.map(_._3.toLong).sum
  private val avgdl = totalTokens.toDouble / tf.length

  def scores(terms: Seq[String]): Map[Long, Double] = {
    val ts = terms.distinct
    val df = ts.map(t => t -> tf.count(_._2.contains(t))).toMap
    val n = tf.length.toDouble
    tf.flatMap { case (id, m, dl) =>
      val hits = ts.filter(m.contains)
      if (hits.isEmpty) None
      else Some(id -> hits.map { t =>
        val idf = math.log((n - df(t) + 0.5) / (df(t) + 0.5) + 1.0)
        val f = m(t).toDouble
        idf * f / (f + (dl / avgdl * B + (1.0 - B)) * K1)
      }.sum)
    }.toMap
  }

  def top(terms: Seq[String], k: Int): Seq[(Long, Double)] =
    scores(terms).toSeq.sortBy { case (id, s) => (-s, id) }.take(k)
}

object Bm25Oracle {
  def cosine(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }
}

/** Micro-batches of new chunks, each merged into the near-duplicate index
  * and then the search-index statistics. Every batch lands on a fresh copy
  * of the state that set-up built over the initial corpus, so every op
  * does the same kind and amount of work. */
final class Refresh(spark: SparkSession, gen: Gen, seed: Long, nInitial: Int,
    nBatches: Int, batchSize: Int, work: Path) extends Workload {
  import spark.implicits._
  val name = "refresh"
  val opSpan = "refresh.batch"
  val minOps = 3
  val warmOps = 1
  private var initial: Vector[(Long, String)] = Vector.empty
  private var batches: Vector[Batch] = Vector.empty
  private var built = 0
  private def template = work.resolve(s"refresh/template-$built")
  private def opDir(i: Int) = work.resolve(s"refresh/op-$i")
  private var recall = Seq.empty[Double]

  def setup(): Unit = {
    VersionedState.deleteTree(template)
    built += 1
    val r = new SplittableRandom(seed * 7 + 11)
    initial = gen.corpus(nInitial, r)
    batches = gen.batches(initial, nBatches, batchSize, 0.2, r)
    val df = initial.toDF("doc_id", "text")
    DedupIndexStream.mergeBatch(df, template.resolve("dedup").toString, 0L)
    SearchIndexStream.mergeBatch(df, template.resolve("search").toString, 0L)
  }

  override def prepare(i: Int): Unit = {
    if (i > 0) VersionedState.deleteTree(opDir(i - 1))
    Fs.copy(template, opDir(i))
  }

  private def stateBytes(dir: Path): Long = {
    val v = new String(Files.readAllBytes(dir.resolve("CURRENT"))).trim
    Fs.size(dir.resolve(s"v__$v"))
  }

  def op(i: Int, tr: Tracer): OpOut = {
    val b = batches(i % nBatches)
    val dir = opDir(i)
    val df = b.docs.toDF("doc_id", "text")
    val signal = tr.span("streaming.dedup_merge") {
      DedupIndexStream.mergeBatch(df, dir.resolve("dedup").toString, 1L)
    }
    tr.span("streaming.search_merge") {
      SearchIndexStream.mergeBatch(df, dir.resolve("search").toString, 1L)
    }
    OpOut(() => {
      val commit = (stateBytes(dir.resolve("dedup")) + stateBytes(dir.resolve("search"))).toDouble
      val input = b.docs.map(_._2.length.toLong + 8).sum.toDouble
      Map("streaming.commit_bytes" -> commit,
        "streaming.write_amp" -> commit / input,
        "streaming.state_bytes" -> Fs.size(dir).toDouble,
        "streaming.rebuild_signal" -> signal.toDouble)
    }, () => check(dir, b))
  }

  /** token_stats.df and doc_stats.dl against counts over the generated
    * texts; planted-pair recall is recorded, not judged. */
  private def check(dir: Path, b: Batch): Seq[String] = {
    val docs = initial ++ b.docs
    val wantDf = docs.flatMap(_._2.split(" ", -1).distinct).groupBy(identity)
      .view.mapValues(_.size.toLong).toMap
    val wantDl = docs.map { case (id, t) => id -> t.split(" ", -1).length.toLong }.toMap
    val (tok, dl) = SearchIndexStream.readState(spark, dir.resolve("search").toString)
    val gotDf = tok.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val gotDl = dl.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = DedupIndexStream.readState(spark, dir.resolve("dedup").toString)._3
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    recall :+= b.planted.count { case (a, c) => pairs((a, c)) || pairs((c, a)) }.toDouble /
      math.max(1, b.planted.size)
    val problems = Seq.newBuilder[String]
    if (gotDf != wantDf) {
      val bad = (wantDf.keySet ++ gotDf.keySet).filter(t => wantDf.get(t) != gotDf.get(t))
      problems += s"token_stats.df differs on ${bad.size} tokens, e.g. ${bad.take(3).mkString(",")}"
    }
    if (gotDl != wantDl) problems += "doc_stats.dl differs from the generated texts"
    problems.result()
  }

  override def finalCounters(): Map[String, Double] =
    if (recall.isEmpty) Map.empty else Map("streaming.dup_recall" -> Stats.median(recall))

  override def notes(c: Map[String, Double]): Seq[String] = Seq(
    f"VersionedState rewrites every state table on each commit: the last batch wrote ${c.getOrElse("streaming.commit_bytes", 0.0)}%.0f bytes, ${c.getOrElse("streaming.write_amp", 0.0)}%.2f per byte of batch input, for a state of ${c.getOrElse("streaming.state_bytes", 0.0)}%.0f bytes.",
    f"Planted near-duplicate recall ${c.getOrElse("streaming.dup_recall", 0.0)}%.3f; last rebuild signal ${c.getOrElse("streaming.rebuild_signal", 0.0)}%.0f.")
}
