package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.functions._

import graft.ml.VocabEmbedding

/** Pins reference M6 (ct_estimator.py:106-114): vocabulary-file
  * categorical → fixed dense embedding. The TF contract points under
  * test: positional vocab (index = line number), OOV/NULL →
  * default_value -1 → zero vector, dimension honored, and the feature
  * assembling next to the indicator columns. */
class VocabEmbeddingSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val vocab = Seq("mayo", "stanford", "nih", "mgh")

  test("vocab file loads positionally (index = line number)") {
    val f = tempDir("graft_vocab").resolve("vocab.txt")
    java.nio.file.Files.writeString(f, "mayo\nstanford\nnih\nmgh\n")
    assert(VocabEmbedding.loadVocab(spark, f.toString) == vocab)
  }

  test("index column: in-vocab = line number, OOV and NULL = -1") {
    val df = Seq(Some("stanford"), Some("unknown-site"), None, Some("mayo"))
      .toDF("source")
    val got = df.select(
      VocabEmbedding.indexColumn($"source", vocab).as("idx"))
      .as[Int].collect().toSeq
    assert(got == Seq(1, -1, -1, 0))
  }

  test("broadcast-join index route agrees with the literal-map route") {
    val df = (Seq("mayo", "nih", "nope", "mgh") ++ vocab).toDF("source")
    val vocabDf = vocab.zipWithIndex.toDF("term", "idx")
    val viaJoin = VocabEmbedding
      .indexByJoin(spark, df, "source", vocabDf, "vidx")
      .select($"source", $"vidx")
    val viaMap = df.select($"source",
      VocabEmbedding.indexColumn($"source", vocab).as("vidx"))
    assert(viaJoin.collect().sortBy(_.toString).toSeq ==
      viaMap.collect().sortBy(_.toString).toSeq)
  }

  test("embedding: dim honored, OOV is the zero vector, lookup matches the matrix") {
    val dim = 10
    val mat = VocabEmbedding.embeddingMatrix(vocab.size, dim, seed = 7L)
    val df = Seq("nih", "missing").toDF("source")
    val rows = df.select($"source",
      VocabEmbedding.embeddingColumn($"source", vocab, dim, seed = 7L).as("e"))
      .as[(String, Seq[Double])].collect().toMap
    assert(rows("nih").size == dim && rows("nih") == mat(2).toSeq)
    assert(rows("missing") == Seq.fill(dim)(0.0))
    // deterministic across invocations (seeded projection, not RNG state)
    val again = VocabEmbedding.embeddingMatrix(vocab.size, dim, seed = 7L)
    assert(mat.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("embeds assembler-ready next to numeric features (the M5 seam)") {
    val df = Seq(("mayo", 3.0), ("oov-site", 1.5)).toDF("source", "x")
    val withEmb = VocabEmbedding.withEmbedding(df, "source", vocab, dim = 4)
    val assembled = new VectorAssembler()
      .setInputCols(Array("x", "source_emb")).setOutputCol("features")
      .transform(withEmb)
    val vecs = assembled.select("features").collect()
      .map(_.getAs[Vector](0))
    assert(vecs.forall(_.size == 5)) // 1 numeric + dim 4
    assert(vecs(1).toArray.drop(1).forall(_ == 0.0)) // OOV leg zeroed
  }

  test("duplicate vocab terms are rejected, not silently last-write-wins") {
    val ex = intercept[IllegalArgumentException] {
      Seq("a").toDF("s")
        .select(VocabEmbedding.indexColumn($"s", Seq("a", "a"))).collect()
    }
    assert(ex.getMessage.contains("duplicate"))
    // the join route holds the same contract (a dup would FAN rows)
    val ex2 = intercept[IllegalArgumentException] {
      VocabEmbedding.indexByJoin(spark, Seq("a").toDF("s"), "s",
        Seq(("a", 0), ("a", 1)).toDF("term", "idx"), "vidx")
    }
    assert(ex2.getMessage.contains("duplicate"))
  }

  test("indexByJoin leaves a caller's own term/idx columns untouched") {
    val df = Seq(("mayo", "my-term", 99), ("nope", "t2", 98))
      .toDF("source", "term", "idx")
    val vocabDf = vocab.zipWithIndex.toDF("term", "idx")
    val got = VocabEmbedding.indexByJoin(spark, df, "source", vocabDf, "vidx")
      .select($"source", $"term", $"idx", $"vidx")
      .as[(String, String, Int, Int)].collect().toSet
    assert(got == Set(("mayo", "my-term", 99, 0), ("nope", "t2", 98, -1)))
  }
}
