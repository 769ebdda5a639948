package perfbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.ISO_8859_1
import java.util.SplittableRandom
import java.util.zip.Deflater

import scala.collection.mutable

/** Zipf(s) sampler over ranks 0 until n (rank 0 is the most frequent). */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }

  def sample(r: SplittableRandom): Int = {
    val u = r.nextDouble()
    var lo = 0
    var hi = n - 1
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cdf(mid) < u) lo = mid + 1 else hi = mid
    }
    lo
  }
}

/** One EPA product as the benchmark generated it: the API JSON the
  * engine shreds, the label PDF its latest pdffile points at, and the
  * facts the output checks compare against. */
final case class Product(regno: String, json: String, pdffile: String,
    pdf: Array[Byte], text: String, types: Option[Seq[String]])

/** A refresh micro-batch: (doc_id, text) rows plus the planted
  * near-duplicate pairs (new doc, the earlier doc it copies). */
final case class Batch(docs: Vector[(Long, String)],
    planted: Vector[(Long, Long)])

/** Seeded input generator. Everything derives from the seed; the engine
  * only ever sees the generated JSON, PDF bytes, texts and vectors. */
final class Gen(seed: Long, vocabSize: Int = 4000, zipfS: Double = 1.05) {

  val vocab: Array[String] = Gen.vocabulary(new SplittableRandom(seed), vocabSize)
  private val zipf = new Zipf(vocabSize, zipfS)

  def word(r: SplittableRandom): String = vocab(zipf.sample(r))

  def line(r: SplittableRandom, words: Int): String =
    Iterator.fill(words)(word(r)).mkString(" ")

  /** Chunk-sized text: words until the next would pass `maxChars`. */
  def passage(r: SplittableRandom, maxChars: Int): String = {
    val sb = new StringBuilder(word(r))
    var w = word(r)
    while (sb.length + 1 + w.length <= maxChars) {
      sb.append(' ').append(w); w = word(r)
    }
    sb.result()
  }

  /** `n` products with 12-22 page labels, about 16 chunks each. About
    * one product in six omits each optional child array, some carry an
    * empty one, and half have an older superseded pdffile, so every shred
    * path and the latest-PDF window run. */
  def products(n: Int): Vector[Product] = {
    val r = new SplittableRandom(seed * 31 + 7)
    Vector.tabulate(n) { i =>
      val regno = f"${1000 + i}%d-${(seed & 0xffff) + i % 7}%d"
      val name = s"${word(r).capitalize} ${word(r).capitalize} ${i % 97}"
      val year = 2010 + r.nextInt(14)
      val pdffile = f"${1000 + i}%07d-$i%05d-${year}0615.pdf"
      val pages = Vector.fill(12 + r.nextInt(11)) {
        Vector.fill(16 + r.nextInt(10))(line(r, 6 + r.nextInt(7)))
      }
      val types: Option[Seq[String]] = r.nextInt(10) match {
        case 0 => None // array absent
        case 1 => Some(Seq.empty) // array present but empty
        case _ => Some(r.ints(1 + r.nextInt(3), 0, Gen.Types.length).toArray
          .distinct.map(Gen.Types).toSeq)
      }
      val json = Gen.productJson(r, regno, name, pdffile, s"$year-06-15", types)
      Product(regno, json, pdffile, Pdf.label(pages, r),
        pages.flatten.mkString(" "),
        types.map(_.sorted).filter(_.nonEmpty))
    }
  }

  /** Search corpus: `n` chunk-sized passages, doc ids 0 until n. */
  def corpus(n: Int, r: SplittableRandom): Vector[(Long, String)] =
    Vector.tabulate(n)(i => (i.toLong, passage(r, 900 + r.nextInt(600))))

  def vectors(n: Int, dim: Int, r: SplittableRandom): Vector[Array[Double]] =
    Vector.fill(n)(Array.fill(dim)(Gen.gaussian(r)))

  /** BM25 terms: one common (rank < 50) and two Zipf-drawn terms. */
  def queryTerms(r: SplittableRandom): Seq[String] =
    (vocab(r.nextInt(50)) +: Seq.fill(2)(word(r))).distinct

  /** `k` refresh batches of `size` docs, each to be merged on its own
    * into the state built over `initial`; a `dupShare` of each batch are
    * near-duplicates (about 3% of words replaced) of an initial doc or of
    * an earlier doc of the same batch. Ids continue after the initial
    * corpus's. */
  def batches(initial: Vector[(Long, String)], k: Int, size: Int,
      dupShare: Double, r: SplittableRandom): Vector[Batch] = {
    var next = initial.map(_._1).max + 1
    Vector.fill(k) {
      val earlier = mutable.ArrayBuffer.from(initial)
      val docs = mutable.ArrayBuffer.empty[(Long, String)]
      val planted = mutable.ArrayBuffer.empty[(Long, Long)]
      for (_ <- 0 until size) {
        val id = next; next += 1
        val doc = if (r.nextDouble() < dupShare) {
          val (src, text) = earlier(r.nextInt(earlier.length))
          val ws = text.split(" ")
          for (_ <- 0 until math.max(1, ws.length * 3 / 100))
            ws(r.nextInt(ws.length)) = word(r)
          planted += ((id, src))
          (id, ws.mkString(" "))
        } else (id, passage(r, 900 + r.nextInt(600)))
        docs += doc
        earlier += doc
      }
      Batch(docs.toVector, planted.toVector)
    }
  }
}

object Gen {

  val Types: Vector[String] = Vector("INSECTICIDE", "HERBICIDE", "FUNGICIDE",
    "RODENTICIDE", "DISINFECTANT", "MITICIDE", "NEMATICIDE", "ALGAECIDE")

  /** Distinct pronounceable lowercase words, so PDF literal strings never
    * need escapes and whitespace splitting is exact. */
  def vocabulary(r: SplittableRandom, n: Int): Array[String] = {
    val cons = "bcdfghjklmnprstvwz"
    val vow = "aeiou"
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < n) {
      val sb = new StringBuilder
      for (_ <- 0 until 1 + r.nextInt(4))
        sb.append(cons(r.nextInt(cons.length))).append(vow(r.nextInt(vow.length)))
      if (r.nextBoolean()) sb.append(cons(r.nextInt(cons.length)))
      seen += sb.result()
    }
    seen.toArray
  }

  def gaussian(r: SplittableRandom): Double = {
    val u = 1.0 - r.nextDouble()
    math.sqrt(-2.0 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  private def q(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  private def arr(objs: Seq[Seq[(String, String)]]): String =
    objs.map(_.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}"))
      .mkString("[", ",", "]")

  /** Product document in the EPA API's shape, covering all nine child
    * arrays. The pdffile the label belongs to is always the latest. */
  def productJson(r: SplittableRandom, regno: String, name: String,
      pdffile: String, accepted: String, types: Option[Seq[String]]): String = {
    def maybe(key: String, objs: => Seq[Seq[(String, String)]]): Option[String] =
      if (r.nextInt(6) == 0) None else Some(s"${q(key)}:${arr(objs)}")
    def few(field: String, prefix: String): Seq[Seq[(String, String)]] =
      Seq.tabulate(r.nextInt(3))(j => Seq(field -> q(s"$prefix $j")))
    val older = if (r.nextBoolean())
      Seq(Seq("epa_reg_num" -> q(regno), "pdffile" -> q(s"old-$pdffile"),
        "pdffile_accepted_date" -> q("2005-01-01")))
    else Seq.empty
    val latest = Seq("epa_reg_num" -> q(regno), "pdffile" -> q(pdffile),
      "pdffile_accepted_date" -> q(accepted))
    val fields = Seq(
      Some(s""""eparegno":${q(regno)}"""),
      Some(s""""productname":${q(name)}"""),
      Some(s""""registereddate":"2001-02-03""""),
      Some(s""""cancel_flag":"N""""),
      Some(s""""product_status":"Active""""),
      Some(s""""signal_word":${q(Seq("CAUTION", "WARNING", "DANGER")(r.nextInt(3)))}"""),
      maybe("companyinfo", Seq(Seq("name" -> q(s"$name Corp"),
        "city" -> q("Springfield"), "state" -> q("CT")))),
      maybe("active_ingredients", Seq.tabulate(1 + r.nextInt(3))(j =>
        Seq("pc_code" -> q(f"${r.nextInt(999999)}%06d"),
          "active_ing" -> q(s"ingredient $j"),
          "active_ing_percent" -> f"${r.nextDouble() * 50}%.3f"))),
      maybe("sites", few("site", "site")),
      maybe("pests", few("pest", "pest")),
      types.map(ts => s""""types":${arr(ts.map(t => Seq("type" -> q(t))))}"""),
      maybe("formulations", few("formulation", "form")),
      maybe("altbrandnames", few("altbrandname", "brand")),
      Some(s""""pdffiles":${arr(older :+ latest)}"""),
      maybe("transfer_history", Seq.tabulate(r.nextInt(2))(j =>
        Seq("previous_eparegno" -> q(s"9$j-$regno"),
          "previous_company" -> q("Prior Co"),
          "transferred_date" -> q("2012-04-05")))))
    fields.flatten.mkString("{", ",", "}")
  }
}

/** Minimal PDF writer for label documents: one Flate content stream per
  * page, each line shown either by a `Tj` or by a kerned `TJ` array
  * whose pieces concatenate to the line. Every line is followed by a
  * `Td` move, so the visible text is the lines joined by single spaces. */
object Pdf {

  private def lit(s: String): String =
    "(" + s.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)") + ")"

  private def content(lines: Seq[String], r: SplittableRandom): String = {
    val sb = new StringBuilder("BT\n/F1 10 Tf\n72 760 Td\n")
    for (l <- lines) {
      if (l.length > 4 && r.nextInt(3) == 0) {
        val cuts = r.ints(1 + r.nextInt(3), 1, l.length).toArray.distinct.sorted
        val pieces = (0 +: cuts).zip(cuts :+ l.length).map { case (a, b) => lit(l.substring(a, b)) }
        sb.append(pieces.mkString("[", s" ${-5 - r.nextInt(40)} ", "] TJ\n"))
      } else sb.append(lit(l)).append(" Tj\n")
      sb.append("0 -12 Td\n")
    }
    sb.append("ET\n").result()
  }

  private def deflate(b: Array[Byte]): Array[Byte] = {
    val d = new Deflater(6)
    d.setInput(b); d.finish()
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  def label(pages: Seq[Seq[String]], r: SplittableRandom): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val offsets = mutable.ArrayBuffer.empty[Int]
    def raw(s: String): Unit = out.write(s.getBytes(ISO_8859_1))
    def obj(body: String): Unit = {
      offsets += out.size()
      raw(s"${offsets.length} 0 obj\n$body\nendobj\n")
    }
    raw("%PDF-1.4\n")
    val kids = pages.indices.map(i => s"${4 + 2 * i} 0 R").mkString(" ")
    obj("<< /Type /Catalog /Pages 2 0 R >>")
    obj(s"<< /Type /Pages /Kids [$kids] /Count ${pages.length} >>")
    obj("<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    for ((lines, i) <- pages.zipWithIndex) {
      obj(s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
        s"/Resources << /Font << /F1 3 0 R >> >> /Contents ${5 + 2 * i} 0 R >>")
      val z = deflate(content(lines, r).getBytes(ISO_8859_1))
      offsets += out.size()
      raw(s"${offsets.length} 0 obj\n<< /Length ${z.length} /Filter /FlateDecode >>\nstream\n")
      out.write(z)
      raw("\nendstream\nendobj\n")
    }
    val xref = out.size()
    raw(s"xref\n0 ${offsets.length + 1}\n0000000000 65535 f \n")
    offsets.foreach(o => raw(f"$o%010d 00000 n \n"))
    raw(s"trailer\n<< /Size ${offsets.length + 1} /Root 1 0 R >>\nstartxref\n$xref\n%%EOF\n")
    out.toByteArray
  }
}
