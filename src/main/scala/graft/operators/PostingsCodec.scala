package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.expressions.{PqAdc, PqCodebookSet, PqEncode, PqLut}

/** What an IVF postings artifact stores per vector — the codec axis of
  * the index, beside the [[CoarseQuantizer]] axis. Every postings
  * artifact is the same cell-partitioned `(cell, cand_id, d2, payload,
  * iv_*)` layout under one [[PostingsManifest]], lease and cap fold;
  * the codec decides the payload and everything that follows from it:
  *
  *  - the build payload and the data schema manifest-planned reads
  *    declare ([[dataSchema]]);
  *  - for `Pq`, the residual encode, the per-probed-cell ADC lookup
  *    tables, the foreign-codebook fail-fast, the `_pq_codebooks`
  *    sidecar and one cached codebook broadcast.
  *
  * `Float` carries the vector and its norm (`cv`, `cn`), served by exact
  * cosine. `Pq` carries `m` codeword ids (`codes`) plus the codebook
  * checksum `pq_ck`, served by asymmetric distance (IVFADC, Jégou et al.
  * TPAMI 2011). A path op learns the codec from the artifact itself:
  * the sidecar present ⟹ `Pq` ([[at]]). */
sealed trait PostingsCodec {

  /** The data files' schema (partition column `cell` excluded). */
  def dataSchema(hasGp: Boolean): StructType

  /** The build payload over a home-assigned frame
    * `(cell, cand_id, cv, cn, d2)` under quantizer `q`. */
  def payload(home: DataFrame, q: CoarseQuantizer): DataFrame

  /** The codec's identity columns on a params-stamped payload. */
  def stamp(df: DataFrame): DataFrame

  /** `what` (an artifact path, or a frame) must carry this codec's
    * payload: `codes` under the float codec, or float data under a PQ
    * sidecar, fails fast. Called where the schema is already in hand. */
  def requireCarriedBy(schema: StructType, what: String): Unit
}

object PostingsCodec {

  /** The float vector and its norm — the exact-cosine payload. */
  case object Float extends PostingsCodec {
    def dataSchema(hasGp: Boolean): StructType = {
      val base = StructType(Seq(
        StructField("cand_id", LongType),
        StructField("cv", ArrayType(DoubleType)),
        StructField("cn", DoubleType),
        StructField("d2", DoubleType),
        StructField("iv_cells", IntegerType),
        StructField("iv_cap", IntegerType),
        StructField("iv_ck", LongType)))
      if (hasGp) base.add(StructField("iv_gp", IntegerType)) else base
    }

    def payload(home: DataFrame, q: CoarseQuantizer): DataFrame = home

    def stamp(df: DataFrame): DataFrame = df

    def requireCarriedBy(schema: StructType, what: String): Unit =
      require(!schema.fieldNames.contains("codes"),
        s"$what carries PQ codes under the float codec (no " +
          "_pq_codebooks sidecar) — save PQ postings with " +
          "saveIvfPostings(…, PostingsCodec.Pq(cs)); an artifact that " +
          "lost its sidecar must be rebuilt")
  }

  /** Product-quantized codes under codebooks `cs`. `residual` is the
    * ENCODING LAW: codes quantize `v − centroid(home cell)` (the
    * published IVFADC form) or the raw `v`. Serving under the wrong law
    * ranks garbage distances behind a matching checksum, so the law is
    * part of the artifact, never a serve-time argument. Only the `Flat`
    * quantizer and the classic layout take this codec. */
  final case class Pq(cs: PqCodebookSet, residual: Boolean = true)
      extends PostingsCodec {

    /** The codebooks' cluster broadcast — one per (live context,
      * codebook identity), shared through the cache the centroid
      * broadcasts use, so a build, every append and micro-batch, and
      * every serve over the same codebooks share it. */
    def broadcast(spark: SparkSession): Broadcast[PqCodebookSet] =
      CoarseQuantizer.cachedBroadcast(spark.sparkContext,
        ("pq", cs.m, cs.dsub, cs.k, cs.checksum), cs)

    def encode(spark: SparkSession, v: Column): Column =
      GraftColumnBridge.column(PqEncode(broadcast(spark),
        GraftColumnBridge.expression(v)))

    def lut(spark: SparkSession, v: Column): Column =
      GraftColumnBridge.column(PqLut(broadcast(spark),
        GraftColumnBridge.expression(v)))

    /** Asymmetric distance of a lookup table to a code array. */
    def adc(lut: Column, codes: Column): Column =
      GraftColumnBridge.column(PqAdc(GraftColumnBridge.expression(lut),
        GraftColumnBridge.expression(codes), cs.k))

    /** The vector this law quantizes, given the home/probed centroid. */
    def input(v: Column, centroid: => Column): Column =
      if (residual) residualOf(v, centroid) else v

    private def withCentroid(df: DataFrame, q: CoarseQuantizer): DataFrame =
      if (residual) PostingsCodec.withCentroid(df, q) else df

    private def requireQuantizer(q: CoarseQuantizer): Unit =
      require(q.isInstanceOf[CoarseQuantizer.Flat],
        "PQ postings take the Flat quantizer only — a two-level PQ " +
          "artifact is not supported")

    /** `(cell, cand_id, d2, codes)`: the float vector is dropped here,
      * so nothing vector-sized is written or shuffled after the encode. */
    def payload(home: DataFrame, q: CoarseQuantizer): DataFrame = {
      requireQuantizer(q)
      withCentroid(home, q)
        .withColumn("codes", encode(home.sparkSession,
          input(col("cv"), col("centroid"))))
        .select(col("cell"), col("cand_id"), col("d2"), col("codes"))
    }

    /** Probed queries `(vec_id, v, nrm, cell)` → `(cell, vec_id, lut)`:
      * under the residual law one lookup table per (query, probed cell),
      * against `q − centroid(cell)`. */
    def probeLuts(probed: DataFrame, q: CoarseQuantizer): DataFrame = {
      requireQuantizer(q)
      withCentroid(probed, q).select(col("cell"), col("vec_id"),
        lut(probed.sparkSession, input(col("v"), col("centroid"))).as("lut"))
    }

    def stamp(df: DataFrame): DataFrame =
      df.withColumn("pq_ck", lit(cs.checksum))

    def dataSchema(hasGp: Boolean): StructType = {
      require(!hasGp, "PQ postings carry no two-level iv_gp")
      StructType(Seq(
        StructField("cand_id", LongType),
        StructField("d2", DoubleType),
        StructField("codes", ArrayType(IntegerType, containsNull = false)),
        StructField("iv_cells", IntegerType),
        StructField("iv_cap", IntegerType),
        StructField("iv_ck", LongType),
        StructField("pq_ck", LongType)))
    }

    def requireCarriedBy(schema: StructType, what: String): Unit =
      require(schema.fieldNames.contains("codes"),
        s"$what carries float postings under the PQ codec — build with " +
          "ivfPostings(…, codec) under the same codec, or remove a stray " +
          "_pq_codebooks sidecar")

    /** Codes assigned under other codebooks are meaningless against
      * these: refuse a relation carrying any foreign `pq_ck`. A frame
      * whose plan stamps it ([[PlanLiterals]] — every branch of a union
      * agreeing) is checked with no job; otherwise distinct, not
      * first-row, so a union of differently-encoded relations fails
      * too — the column is constant per encode, so the distinct
      * collapses map-side to at most one value per input file. */
    def requireOwnCodes(codes: DataFrame, what: String): Unit = {
      val carried = PlanLiterals(codes, "pq_ck") match {
        case Some(Seq(ck: Long)) => Seq(ck)
        case _ => codes.select(col("pq_ck")).distinct()
          .collect().map(_.getLong(0)).toSeq
      }
      val foreign = carried.filterNot(_ == cs.checksum)
      require(foreign.isEmpty,
        s"$what carries codebook checksum(s) ${foreign.mkString(",")}, " +
          s"the codebooks are ${cs.checksum} — re-encode under the " +
          "matching codebooks, or rebuild the artifact")
    }
  }

  /** `df` (carrying `cell`) with that cell's centroid under `q` joined
    * on — a broadcast of the numCells-row centroid table. */
  private[operators] def withCentroid(df: DataFrame,
      q: CoarseQuantizer): DataFrame =
    df.join(broadcast(Similarity.centroidTableOf(df.sparkSession, q.cents)),
      Seq("cell"))

  /** Elementwise `v − centroid` — THE residual the IVFADC composition
    * quantizes (Jégou et al. TPAMI 2011 §IV; FAISS `IndexIVFPQ`
    * likewise): within one coarse cell every member shares the centroid
    * offset, so codebook capacity describes the small within-cell
    * geometry instead of re-describing the coarse layout. A codegen'd
    * `zip_with`, one double subtract per dim, ascending — bit-identical
    * to the oracle's `list_transform((x,i) → x − c[i])`. */
  def residualOf(v: Column, centroid: Column): Column =
    zip_with(v, centroid, (a, b) => a - b)

  /** Postings FRAMES are float-only: a PQ serve needs the artifact's
    * sidecar, so coded postings serve and append through their path. */
  def requireFloatFrame(postings: DataFrame, op: String): Unit =
    require(!postings.columns.contains("codes"),
      s"$op takes float postings; PQ-coded postings go through their " +
        "directory (PostingsSource.Classic, appendIvfPostings)")

  // ------------------------------------------------- codebook sidecar
  // `<artifact>/_pq_codebooks`, `_`-prefixed so partition discovery
  // skips it: codes are meaningless without the codebooks they were
  // assigned under, so the codebooks travel WITH the codes. One
  // tab-separated file, tmp+rename swap, driver-side Hadoop FS I/O, no
  // Spark job (m·k·dsub doubles: ~8 KB at the fixture geometry, ~1.5 MB
  // at a production 8×256×96 fit). Codewords serialize as hex IEEE-754
  // bit patterns, not decimal strings: a load must rebuild the set
  // BIT-IDENTICALLY or its recomputed checksum would refuse the
  // artifact's own codebooks.

  private val Header = "graft-pq-codebooks\t1"

  def sidecarPath(path: String): Path =
    new Path(path.stripSuffix("/"), "_pq_codebooks")

  /** The artifact's codec: `Pq` from its sidecar, else `Float`. */
  def at(spark: SparkSession, path: String): PostingsCodec =
    if (MaintenanceProtocol.fsOf(spark, path).exists(sidecarPath(path)))
      load(spark, path)
    else Float

  /** Persist `pq` (codebooks + encoding law) with
    * [[ManifestLog.swapText]]. The caller owns ordering vs the data
    * files (the build writes it under its lease, before the manifest). */
  def save(spark: SparkSession, path: String, pq: Pq): Unit = {
    val cs = pq.cs
    ManifestLog.swapText(MaintenanceProtocol.fsOf(spark, path),
      sidecarPath(path), Iterator(Header,
        Seq("params", cs.m, cs.dsub, cs.k, cs.checksum,
          if (pq.residual) "1" else "0").mkString("\t")) ++
        cs.codes.iterator.zipWithIndex.map { case (row, r) =>
          (Iterator("cw", r.toString) ++ row.iterator.map(v =>
            java.lang.Long.toHexString(
              java.lang.Double.doubleToRawLongBits(v)))).mkString("\t")
        })
  }

  /** Load and VERIFY: the recomputed checksum of the reconstructed set
    * must equal the stored one — a corrupted or hand-edited sidecar
    * fails fast here instead of silently mis-ranking every serve. */
  def load(spark: SparkSession, path: String): Pq = {
    val fs = MaintenanceProtocol.fsOf(spark, path)
    val dest = sidecarPath(path)
    require(fs.exists(dest),
      s"no _pq_codebooks sidecar at $path — not a PQ index artifact " +
        "(build with saveIvfPostings(…, PostingsCodec.Pq(cs)), or " +
        "PostingsCodec.save)")
    val in = fs.open(dest)
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
      finally in.close()
    require(lines.nonEmpty && lines.head == Header,
      s"unrecognized pq codebook header at $dest: " +
        s"'${lines.headOption.getOrElse("<empty>")}'")
    require(lines.length >= 2, s"truncated pq codebook sidecar at $dest")
    val p = lines(1).split('\t')
    require(p.length == 6 && p(0) == "params",
      s"malformed pq codebook params line at $dest: '${lines(1)}'")
    val (m, dsub, k) = (p(1).toInt, p(2).toInt, p(3).toInt)
    val storedCk = p(4).toLong
    require(lines.length == 2 + m * k,
      s"pq codebook sidecar at $dest has ${lines.length - 2} codeword " +
        s"rows, expected ${m * k}")
    val codes = new Array[Array[Double]](m * k)
    lines.drop(2).foreach { l =>
      val f = l.split('\t')
      require(f.length == dsub + 2 && f(0) == "cw",
        s"malformed pq codeword line at $dest: '$l'")
      val r = f(1).toInt
      require(r >= 0 && r < m * k && codes(r) == null,
        s"pq codeword row $r out of range or duplicated at $dest")
      codes(r) = f.drop(2).map(h => java.lang.Double.longBitsToDouble(
        java.lang.Long.parseUnsignedLong(h, 16)))
    }
    val cs = PqCodebookSet(m, dsub, k, codes)
    require(cs.checksum == storedCk,
      s"pq codebook sidecar at $dest fails its checksum " +
        s"(stored $storedCk, recomputed ${cs.checksum}) — corrupted " +
        "sidecar; rebuild the artifact")
    Pq(cs, p(5) == "1")
  }
}
