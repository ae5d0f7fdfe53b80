package graft.userbench

import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.nio.file.{Files, Path}

import scala.collection.mutable

import graft.sources.PdfWriter.PageSpec

/** Seeded input generator. Every byte of every generated file is a pure
  * function of (seed, shape, index): the same seed writes byte-identical
  * corpora, a different seed a different one. The program under test only
  * ever sees the files (and the query strings built from them).
  */
object Corpus {

  /** How many documents of each shape one corpus holds. */
  final case class Shape(markdown: Int, text: Int, pdfs: Int, scans: Int,
      scanPages: Int = 2, scanSide: Int = 320)

  /** A seeded pseudo-word vocabulary: ranked, so a Zipf draw mixes a
    * handful of very common words with a long tail of rare ones.
    */
  final class Vocab(seed: Long, size: Int = 2400) {
    private val syl = Array("ka", "lo", "mi", "ne", "ru", "ta", "vo", "zi",
      "be", "do", "fa", "gu", "hi", "jo", "pe", "qua", "se", "ti", "wu", "xe")
    val words: Array[String] = {
      val rng = new java.util.SplittableRandom(seed * 31 + 7)
      val seen = mutable.LinkedHashSet.empty[String]
      while (seen.size < size) {
        val n = 2 + rng.nextInt(3)
        seen += (0 until n).map(_ => syl(rng.nextInt(syl.length))).mkString
      }
      seen.toArray
    }
    // cumulative Zipf(1.0) weights over the ranks
    private val cdf: Array[Double] = {
      val w = words.indices.map(r => 1.0 / (r + 1)).toArray
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total)
    }
    def draw(rng: java.util.SplittableRandom): String = {
      val u = rng.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      words(math.min(words.length - 1, if (i >= 0) i else -i - 1))
    }
    def sentence(rng: java.util.SplittableRandom, n: Int): String =
      (0 until n).map(_ => draw(rng)).mkString(" ")
    /** A word from the rare half of the ranks. */
    def rare(rng: java.util.SplittableRandom): String =
      words(words.length / 2 + rng.nextInt(words.length / 2))
  }

  def rngFor(seed: Long, stream: String, i: Int): java.util.SplittableRandom =
    new java.util.SplittableRandom(
      seed * 1000003L + stream.hashCode.toLong * 7919L + i)

  private def paragraph(v: Vocab, r: java.util.SplittableRandom): String =
    (0 until 2 + r.nextInt(3))
      .map(_ => v.sentence(r, 8 + r.nextInt(10)).capitalize + ".")
      .mkString(" ")

  /** The FIXTURES §1 document shape: page markers, headings, pre-text,
    * fenced python and javascript, bridge text, figure captions, page
    * breaks. `version` > 0 rewrites the content under the same name.
    */
  def markdown(v: Vocab, seed: Long, i: Int, version: Int = 0): String = {
    val r = rngFor(seed + version * 104729L, "md", i)
    val sb = new StringBuilder
    (1 to 2 + r.nextInt(2)).foreach { page =>
      sb.append(s"Page $page\n")
      sb.append(if (page == 1) "# " else "## ")
        .append(v.sentence(r, 3 + r.nextInt(3)).capitalize).append("\n\n")
      sb.append(paragraph(v, r)).append("\n\n")
      val fn = v.draw(r) + "_" + v.rare(r)
      sb.append("```python\n")
        .append(s"def $fn(${v.draw(r)}, ${v.draw(r)}):\n")
        .append(s"    # ${v.sentence(r, 6)}\n")
        .append(s"    return ${v.draw(r)} + ${r.nextInt(1000)}\n")
        .append("```\n\n")
      sb.append(paragraph(v, r)).append("\n\n")
      sb.append("```javascript\n")
        .append(s"function ${v.rare(r)}${page}(x) {\n")
        .append(s"  // ${v.sentence(r, 5)}\n")
        .append(s"  return x * ${1 + r.nextInt(97)};\n}\n")
        .append("```\n\n")
      sb.append(s"Figure $page: ${v.sentence(r, 5)}\n")
      sb.append("---\n")
    }
    sb.toString
  }

  def plainText(v: Vocab, seed: Long, i: Int): String = {
    val r = rngFor(seed, "txt", i)
    (0 until 3 + r.nextInt(4)).map(_ => paragraph(v, r)).mkString("\n\n")
  }

  /** Born-digital PDFs in the four writer shapes the extractor handles:
    * simple Type1, composite CID (TrueType), CID-keyed CFF, encrypted.
    */
  def pdf(v: Vocab, seed: Long, i: Int): Array[Byte] = {
    val r = rngFor(seed, "pdf", i)
    val pages = (0 until 1 + r.nextInt(3)).map { _ =>
      PageSpec((0 until 2 + r.nextInt(3)).map { _ =>
        (0 until 2 + r.nextInt(3)).map(_ => v.sentence(r, 7 + r.nextInt(5)))
          .mkString("\n")
      })
    }
    import graft.sources.PdfWriter._
    i % 4 match {
      case 0 => build(pages, compress = true)
      case 1 => buildCid(pages, compress = true)
      case 2 => buildCidCff(pages, compress = true)
      case _ =>
        val cipher = Seq("rc4", "aes128", "aes256")(r.nextInt(3))
        buildEncrypted(pages, compress = true, cipher)
    }
  }

  /** The four scanned-page codecs, in the order scans rotate through. */
  val ScanCodecs: Seq[String] = Seq("jpx", "jbig2", "g4", "jpeg")

  /** A page-like bilevel raster: dark text-line bars of seeded lengths
    * with word gaps on a white page.
    */
  def pageRaster(r: java.util.SplittableRandom, w: Int, h: Int)
      : Array[Array[Boolean]] = {
    val img = Array.fill(h)(new Array[Boolean](w))
    var y = 16
    while (y + 8 < h - 16) {
      var x = 20 + r.nextInt(8)
      val end = w - 20 - r.nextInt(w / 3)
      while (x < end) {
        val word = 6 + r.nextInt(30)
        var yy = y
        while (yy < y + 7) {
          var xx = x
          while (xx < math.min(x + word, end)) {
            img(yy)(xx) = ((xx * 7 + yy * 3) % 5) != 0
            xx += 1
          }
          yy += 1
        }
        x += word + 4 + r.nextInt(5)
      }
      y += 14
    }
    img
  }

  /** One scanned document: each page carries one page-size image in one
    * of the scan codecs, with the codec fixed per document.
    */
  def scan(seed: Long, i: Int, shape: Shape): (String, Array[Byte]) = {
    val r = rngFor(seed, "scan", i)
    val codec = ScanCodecs(i % ScanCodecs.length)
    val images = (0 until shape.scanPages).map { _ =>
      val w = shape.scanSide + r.nextInt(shape.scanSide / 4)
      val h = (shape.scanSide * 1.3).toInt + r.nextInt(shape.scanSide / 4)
      val bits = pageRaster(r, w, h)
      codec match {
        case "jpx" =>
          val gray = bits.map(_.map(b => if (b) 20 else 235))
          ScanImage(w, h, "DeviceGray", 8, "JPXDecode", "",
            graft.sources.Jpx.encode(gray))
        case "jbig2" =>
          ScanImage(w, h, "DeviceGray", 1, "JBIG2Decode", "",
            graft.sources.Jbig2.encodeEmbedded(bits.toSeq, w))
        case "g4" =>
          ScanImage(w, h, "DeviceGray", 1, "CCITTFaxDecode",
            s"/DecodeParms << /K -1 /Columns $w /BlackIs1 true >> ",
            graft.sources.CcittG4.encode(bits.toSeq, w))
        case _ =>
          ScanImage(w, h, "DeviceRGB", 8, "DCTDecode", "",
            graft.media.ImageCodec.syntheticJpeg(w, h, seed * 131 + i))
      }
    }
    (codec, ScanPdf.assemble(images))
  }

  final case class ScanImage(w: Int, h: Int, colorSpace: String, bpc: Int,
      filter: String, extra: String, data: Array[Byte])

  /** The smallest PDF a scanner writes: one full-page image XObject per
    * page, no fonts, no text.
    */
  object ScanPdf {
    def assemble(images: Seq[ScanImage]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream
      def w(s: String): Unit = out.write(s.getBytes(ISO_8859_1))
      val offsets = mutable.ArrayBuffer.empty[Int]
      def obj(body: => Unit): Unit = {
        offsets += out.size()
        w(s"${offsets.length} 0 obj\n"); body; w("\nendobj\n")
      }
      def stream(dict: String, data: Array[Byte]): Unit = {
        w(s"<< $dict/Length ${data.length} >>\nstream\n")
        out.write(data); w("\nendstream")
      }
      w("%PDF-1.5\n%âãÏÓ\n")
      // object plan: 1 catalog, 2 pages, then (page, content, image) each
      val pageObj = images.indices.map(p => 3 + 3 * p)
      obj(w("<< /Type /Catalog /Pages 2 0 R >>"))
      obj(w(s"<< /Type /Pages /Kids [ ${pageObj.map(o => s"$o 0 R")
        .mkString(" ")} ] /Count ${images.length} >>"))
      images.zip(pageObj).foreach { case (im, po) =>
        obj(w(s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
          s"/Resources << /XObject << /Im0 ${po + 2} 0 R >> >> " +
          s"/Contents ${po + 1} 0 R >>"))
        obj(stream("", "q 612 0 0 792 0 0 cm /Im0 Do Q".getBytes(ISO_8859_1)))
        obj(stream(s"/Type /XObject /Subtype /Image /Width ${im.w} " +
          s"/Height ${im.h} /ColorSpace /${im.colorSpace} " +
          s"/BitsPerComponent ${im.bpc} /Filter /${im.filter} ${im.extra}",
          im.data))
      }
      val xrefAt = out.size()
      val n = offsets.length + 1
      w(s"xref\n0 $n\n0000000000 65535 f \n")
      offsets.foreach(o => w(f"$o%010d 00000 n \n"))
      w(s"trailer\n<< /Size $n /Root 1 0 R >>\nstartxref\n$xrefAt\n%%EOF\n")
      out.toByteArray
    }
  }

  /** What one generated corpus holds, for the checks. */
  final case class Written(dir: Path, files: Seq[Path], markdown: Seq[Path],
      pdfs: Seq[Path], scans: Seq[(Path, String)], bytes: Long)

  /** Write one corpus under `dir`. File names carry the shape and index,
    * so document ids (md5 of the path) are stable for a given dir.
    */
  def write(dir: Path, seed: Long, shape: Shape, v: Vocab,
      prefix: String = "d"): Written = {
    Files.createDirectories(dir)
    def put(name: String, bytes: Array[Byte]): Path = {
      val p = dir.resolve(name)
      Files.write(p, bytes)
      p
    }
    val md = (0 until shape.markdown).map(i =>
      put(f"$prefix$i%05d.md", markdown(v, seed, i).getBytes(UTF_8)))
    val txt = (0 until shape.text).map(i =>
      put(f"$prefix$i%05d.txt", plainText(v, seed, i).getBytes(UTF_8)))
    val pdfs = (0 until shape.pdfs).map(i =>
      put(f"${prefix}p$i%04d.pdf", pdf(v, seed, i)))
    val scans = (0 until shape.scans).map { i =>
      val (codec, bytes) = scan(seed, i, shape)
      put(f"${prefix}s$i%04d.pdf", bytes) -> codec
    }
    val files = md ++ txt ++ pdfs ++ scans.map(_._1)
    Written(dir, files, md, pdfs, scans,
      files.map(f => Files.size(f)).sum)
  }

  /** md5 over every file's name and bytes, in name order. */
  def digest(dir: Path): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val files = {
      val s = Files.list(dir)
      try s.toArray.map(_.asInstanceOf[Path]).sortBy(_.getFileName.toString)
      finally s.close()
    }
    files.foreach { f =>
      md.update(f.getFileName.toString.getBytes(UTF_8))
      md.update(Files.readAllBytes(f))
    }
    md.digest().map(b => f"$b%02x").mkString
  }
}
