package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.model.PagesSynth

/** A page of `html_pii_pipeline` and the PII values planted in it; the
  * `planted` column is kept for the check and never reaches the program. */
final case class PlantedRow(url: String, warc_ts: java.sql.Timestamp,
                            html: Option[Array[Byte]], text: Option[String],
                            lang: String, planted: Seq[String])

/** Seeded input generators. Every row is a pure function of (seed, row
  * index), so one seed always yields the same inputs. */
object Inputs {

  /** Page ids of seed s start at s * IdStride: each seed draws its own
    * slice of the `PagesSynth` id space. */
  final val IdStride = 1000000000L

  def rng(seed: Long, i: Long, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9e3779b97f4a7c15L ^ i * 0xbf58476d1ce4e5b9L
      ^ salt)

  /** Crawl pages with the generator's default mix (about 4% html-only,
    * 35% with PII, five languages, Zipf-skewed hosts). */
  def crawl(spark: SparkSession, seed: Long, n: Long,
            slices: Int): DataFrame = {
    import spark.implicits._
    spark.range(seed * IdStride, seed * IdStride + n, 1, slices).as[Long]
      .mapPartitions(_.map(id => PagesSynth.generate(id, validated = false)._2))
      .toDF()
  }

  // ---- html_pii_pipeline: html-only or blank-text pages, planted PII ----

  private val ratings =
    IndexedSeq("very good", "good", "excellent", "fair", "poor", "bad")
  private val blanks =
    IndexedSeq("", " ", "\n\t ", "\u00a0\u3000 ", " \r\n")

  /** One value of PII type `t` (0 to 8: SSN, routing, account, credit
    * score, credit rating, card, phone, email, IPv4). */
  def piiValue(t: Int, r: SplittableRandom): String = {
    def digits(k: Int) = (1 to k).map(i =>
      if (i == 1) 1 + r.nextInt(9) else r.nextInt(10)).mkString
    t match {
      case 0 => s"${100 + r.nextInt(900)}-${10 + r.nextInt(90)}-${1000 + r.nextInt(9000)}"
      case 1 => digits(9)
      case 2 => digits(10 + r.nextInt(8))
      case 3 => s"credit score: ${300 + r.nextInt(550)}"
      case 4 => s"credit report: ${ratings(r.nextInt(ratings.length))}"
      case 5 => (1 to 4).map(_ => 1000 + r.nextInt(9000)).mkString("-")
      case 6 => s"(${200 + r.nextInt(800)}) ${200 + r.nextInt(800)}-${1000 + r.nextInt(9000)}"
      case 7 => s"user${r.nextInt(100000)}@mail${r.nextInt(100)}.example.com"
      case _ => (1 to 4).map(_ => 1 + r.nextInt(254)).mkString(".")
    }
  }

  /** A page whose text field is null or blank, so the pipeline must
    * extract its html; the html carries one value of each of the nine PII
    * types plus up to three more, each in its own text node. */
  def plantedPage(seed: Long, i: Long): PlantedRow = {
    val base = PagesSynth.generate(seed * IdStride + i, validated = false)._2
    val text = base.text.getOrElse(graft.core.HtmlText.extract(
      new String(base.html.get, UTF_8)))
    val r = rng(seed, i, 0x1d)
    val types = (0 until 9) ++ Seq.fill(r.nextInt(4))(r.nextInt(9))
    val values = types.map(piiValue(_, r))
    val lines = text.split('\n').filter(_.trim.nonEmpty).toBuffer
    values.foreach { v =>
      val at = r.nextInt(lines.length + 1)
      lines.insert(at, s"Contact: $v.")
    }
    val body = lines.map { l =>
      if (r.nextInt(4) == 0) s"<div class=\"c${r.nextInt(9)}\"><p>$l</p></div>"
      else s"<p>$l</p>"
    }.mkString("\n")
    val html =
      s"""<!DOCTYPE html><html><head><title>page $i &amp; more</title>
         |<script>var n = ${r.nextInt(1000)}; track(n);</script>
         |<style>.c1 { color: #${r.nextInt(999)} }</style></head>
         |<body><!-- nav --><nav><a href="/">home</a> &middot; <a href="/a">about</a></nav>
         |$body
         |<footer>&copy; host&nbsp;ltd</footer></body></html>""".stripMargin
    val textField =
      if (r.nextBoolean()) None else Some(blanks(r.nextInt(blanks.length)))
    PlantedRow(base.url, base.warc_ts, Some(html.getBytes(UTF_8)), textField,
      base.lang, values)
  }

  /** The pages plus a `planted` column the program never sees. */
  def planted(spark: SparkSession, seed: Long, n: Long,
              slices: Int): DataFrame = {
    import spark.implicits._
    spark.range(0, n, 1, slices).as[Long]
      .mapPartitions(_.map(plantedPage(seed, _))).toDF()
  }

  // ---- doc_queries: documents / embeddings in the testdata schema ----

  private val vocab = ("query row stream the spark line small fast group " +
    "customer batch sort value hash filter big data dup part column order " +
    "scan a slow agg key window table merge vector join").split(' ')
  private val langs = IndexedSeq("en", "fr", "de", "es", "zh")
  final val EmbeddingDim = 64

  /** `documents(doc_id, text, lang, source, n_chars)` and
    * `embeddings(vec_id, embedding, label)` as single parquet files named
    * like the testdata tables, under `dir`. */
  def docTables(spark: SparkSession, seed: Long, nDocs: Long, nVecs: Long,
                dir: Path): Unit = {
    import spark.implicits._
    val docs = spark.range(0, nDocs, 1, 4).as[Long].map { id =>
      val r = rng(seed, id, 0xd0c)
      val text = Seq.fill(10 + r.nextInt(91))(vocab(r.nextInt(vocab.length)))
        .mkString(" ")
      (id, text, langs(r.nextInt(langs.length)), s"src${id % 20}",
        text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val vecs = spark.range(0, nVecs, 1, 4).as[Long].map { id =>
      val r = rng(seed, id, 0xe3b)
      val v = Array.fill(EmbeddingDim)(gaussian(r))
      val norm = math.sqrt(v.map(x => x * x).sum)
      (id, v.map(x => (x / norm).toFloat).toSeq, (id % 10).toInt)
    }.toDF("vec_id", "embedding", "label")
    singleFile(docs, dir.resolve("documents.parquet"))
    singleFile(vecs, dir.resolve("embeddings.parquet"))
  }

  private def gaussian(r: SplittableRandom): Double = {
    // Box-Muller; 1 - u keeps the log argument in (0, 1]
    val u = 1.0 - r.nextDouble()
    math.sqrt(-2.0 * math.log(u)) * math.cos(2.0 * math.Pi * r.nextDouble())
  }

  private def singleFile(df: DataFrame, dest: Path): Unit = {
    val tmp = dest.resolveSibling(dest.getFileName.toString + ".tmp")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = Files.list(tmp).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.deleteIfExists(dest)
    Files.move(part, dest)
    Files.walk(tmp).sorted(java.util.Comparator.reverseOrder()).forEach(
      p => Files.delete(p))
  }
}
