package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Workload inputs, made from the seed alone: the engine only ever sees
  * the files and frames built here. */
object Gen {

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
      finally s.close()
    }

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  // ------------------------------------------------ curation dumps

  /** What the generator planted in month 2: the document ids a correct
    * pipeline keeps, and the share of each planted kind. */
  final case class CurationTruth(kept: Set[Long], exactCopies: Int,
      nearDups: Int, contaminated: Int, dumpBytes: Long)

  private val syllables = Array("ka", "lo", "mi", "ne", "ru", "sa", "te",
    "vo", "bi", "da", "fe", "go", "hu", "ji", "pa", "zo")
  /** 4096 three-syllable words: large enough that 5-token shingles of
    * independent documents essentially never collide. */
  private def word(i: Int): String =
    syllables(i & 15) + syllables((i >> 4) & 15) + syllables((i >> 8) & 15)

  val EvalIdBase = 1000000000L

  /** Two monthly dumps in the `SnapshotIngest` layout (pipe-delimited,
    * header row): `<dir>/month1/{documents,eval}.csv` and
    * `<dir>/month2/...`. Documents have `ScaleData.documents`' columns
    * and word-salad text with PII (emails, URLs, IPs) and stray
    * whitespace for the scrub to rewrite. Month 2 holds, besides fresh
    * documents, exact copies of month-1 documents, one-token
    * substitutions of month-1 documents, and documents that embed a
    * 40-token passage of a month-1 eval document. `eval.csv` is the
    * evaluation set released that month. */
  def curationDumps(dir: String, seed: Long, n1: Int, n2: Int,
      nEval1: Int, nEval2: Int): CurationTruth = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 17)
    def tokens(n: Int): Array[String] = Array.fill(n)(word(r.nextInt(4096)))
    def withPii(t: Array[String]): Array[String] = {
      val p = r.nextInt(t.length)
      r.nextInt(20) match {
        case 0 | 1 => t(p) = s"user${r.nextInt(100000)}@mail${r.nextInt(50)}.org"
        case 2 => t(p) = s"https://site${r.nextInt(1000)}.example.com/p${r.nextInt(100)}"
        case 3 => t(p) = s"10.${r.nextInt(256)}.${r.nextInt(256)}.${r.nextInt(256)}"
        case _ =>
      }
      t
    }
    def render(t: Array[String]): String =
      if (r.nextInt(10) == 0) {
        val p = 1 + r.nextInt(t.length - 1)
        t.take(p).mkString(" ") + "  " + t.drop(p).mkString(" ")
      } else t.mkString(" ")
    val langs = Array("en", "en", "en", "de", "es", "fr", "zh")
    def docLine(id: Long, text: String): String =
      s"$id|$text|${langs((id % langs.length).toInt)}|src${id % 20}|${text.length}"

    val eval1 = Array.fill(nEval1)(tokens(60))
    val month1 = Array.fill(n1)(withPii(tokens(80 + r.nextInt(41))))
    val month1Text = month1.map(render)
    val kinds = mutable.ArrayBuffer.fill(n2 / 10)(1) ++
      mutable.ArrayBuffer.fill(n2 / 10)(2) ++ mutable.ArrayBuffer.fill(n2 / 20)(3)
    kinds ++= mutable.ArrayBuffer.fill(n2 - kinds.size)(0)
    // Fisher-Yates with the seeded generator
    for (i <- kinds.indices.reverse) {
      val j = r.nextInt(i + 1)
      val t = kinds(i); kinds(i) = kinds(j); kinds(j) = t
    }
    val kept = mutable.Set.empty[Long]
    val month2 = kinds.zipWithIndex.map { case (kind, j) =>
      val id = n1.toLong + j
      val text = kind match {
        case 1 => month1Text(r.nextInt(n1))
        case 2 =>
          val t = month1(r.nextInt(n1)).clone()
          val plain = t.indices.filter(i => t(i).forall(_.isLetter))
          val p = plain(r.nextInt(plain.size))
          var w = t(p)
          while (w == t(p)) w = word(r.nextInt(4096))
          t(p) = w
          t.mkString(" ")
        case 3 =>
          val t = tokens(80 + r.nextInt(41))
          val e = eval1(r.nextInt(nEval1))
          val s = r.nextInt(e.length - 40)
          val p = r.nextInt(t.length)
          (t.take(p) ++ e.slice(s, s + 40) ++ t.drop(p)).mkString(" ")
        case _ =>
          kept += id
          render(withPii(tokens(80 + r.nextInt(41))))
      }
      docLine(id, text)
    }
    val eval2 = Array.fill(nEval2)(tokens(60))
    def write(month: String, docs: Iterable[String],
        eval: Iterable[(Long, Array[String])]): Long = {
      val d = Paths.get(dir, month)
      Files.createDirectories(d)
      val docFile = d.resolve("documents.csv")
      val evalFile = d.resolve("eval.csv")
      Files.write(docFile, (Iterator("doc_id|text|lang|source|n_chars") ++
        docs.iterator).mkString("", "\n", "\n").getBytes(UTF_8))
      Files.write(evalFile, (Iterator("doc_id|text") ++ eval.iterator.map {
        case (id, t) => s"$id|${t.mkString(" ")}"
      }).mkString("", "\n", "\n").getBytes(UTF_8))
      Files.size(docFile) + Files.size(evalFile)
    }
    val bytes =
      write("month1", month1Text.indices.map(i => docLine(i.toLong, month1Text(i))),
        eval1.indices.map(i => (EvalIdBase + i, eval1(i)))) +
      write("month2", month2,
        eval2.indices.map(i => (EvalIdBase + nEval1 + i, eval2(i))))
    CurationTruth(kept.toSet, kinds.count(_ == 1), kinds.count(_ == 2),
      kinds.count(_ == 3), bytes)
  }

  // ------------------------------------------------ clustered vectors

  /** 64-d vectors drawn around `clusters` seeded centres — the many-
    * local-clusters shape of real embedding corpora, where IVF probing
    * is meaningful. Deterministic in (seed, call order). */
  final class Vectors(seed: Long, clusters: Int = 48, val dim: Int = 64) {
    private val r = new SplittableRandom(seed * 0x2545F4914F6CDD1DL + 3)
    private val centres = Array.fill(clusters, dim)(r.nextGaussian())
    val ids = mutable.ArrayBuffer.empty[Long]
    val vecs = mutable.ArrayBuffer.empty[Array[Float]]
    val labels = mutable.ArrayBuffer.empty[Int]

    /** Draw `n` new vectors with fresh ids; returns their positions. */
    def draw(n: Int): Range = {
      val from = ids.size
      (0 until n).foreach { _ =>
        val c = r.nextInt(clusters)
        ids += ids.size.toLong
        labels += c
        vecs += Array.tabulate(dim)(j => (centres(c)(j) + 0.8 * r.nextGaussian()).toFloat)
      }
      from until ids.size
    }

    /** `n` distinct positions drawn from `from`. */
    def sample(n: Int, from: Seq[Int]): Seq[Int] =
      Seq.fill(n)(from(r.nextInt(from.size))).distinct

    def frame(spark: SparkSession, at: Seq[Int]): DataFrame = {
      import spark.implicits._
      at.map(i => (ids(i), vecs(i), labels(i))).toDF("vec_id", "embedding", "label")
    }
  }
}
