package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import graft.expressions.PqCodebookSet

/** Driver-written sidecar persisting a [[PqCodebookSet]] inside a PQ
  * index artifact (`<artifact>/_pq_codebooks`, `_`-prefixed so Spark's
  * partition discovery skips it) — the piece that makes a coded
  * postings relation DEPLOYABLE: codes assigned under one codebook set
  * are meaningless under any other, so the codebooks must travel WITH
  * the codes, not in some caller's memory. The FAISS-lineage analogue
  * is `IndexIVFPQ`'s serialized codebook block (Jégou et al. TPAMI
  * 2011); the storage shape is the [[PostingsManifest]] text-sidecar
  * stance: one tab-separated file, tmp+rename swap, driver-side Hadoop
  * FS I/O, no Spark job — the payload is m·k·dsub doubles (~8 KB at
  * the fixture geometry, ~1.5 MB at a production 8×256×96 fit),
  * driver-trivial either way.
  *
  * Codewords serialize as hex-encoded IEEE-754 bit patterns
  * (`doubleToRawLongBits`), NOT decimal strings — a load must
  * reconstruct the set BIT-IDENTICALLY or the recomputed [[
  * PqCodebookSet.checksum]] (verified on every load) would reject the
  * artifact's own codebooks, and any decimal round-trip risks exactly
  * that. `residual` records the ENCODING LAW the codes were assigned
  * under (residual `v − centroid(cell)` vs raw `v`): serving with the
  * wrong law would rank garbage distances with a matching checksum, so
  * the law is part of the artifact, never a serve-time argument.
  */
object PqCodebookStore {

  private val Header = "graft-pq-codebooks\t1"

  def sidecarPath(path: String): Path =
    new Path(path.stripSuffix("/"), "_pq_codebooks")

  /** Persist `cs` (+ its encoding law) with [[ManifestLog.swapText]].
    * The caller owns ordering vs the data files (the build routes write
    * the sidecar under their lease, before the manifest roll). */
  def save(spark: SparkSession, path: String, cs: PqCodebookSet,
      residual: Boolean): Unit =
    ManifestLog.swapText(MaintenanceProtocol.fsOf(spark, path),
      sidecarPath(path), Iterator(Header,
        Seq("params", cs.m, cs.dsub, cs.k, cs.checksum,
          if (residual) "1" else "0").mkString("\t")) ++
        cs.codes.iterator.zipWithIndex.map { case (row, r) =>
          (Iterator("cw", r.toString) ++ row.iterator.map(v =>
            java.lang.Long.toHexString(
              java.lang.Double.doubleToRawLongBits(v)))).mkString("\t")
        })

  /** Load and VERIFY: the recomputed checksum of the reconstructed set
    * must equal the stored one — a corrupted or hand-edited sidecar
    * fails fast here instead of silently mis-ranking every serve.
    * Returns (codebooks, residual-encoding flag). */
  def load(spark: SparkSession, path: String): (PqCodebookSet, Boolean) = {
    val fs = MaintenanceProtocol.fsOf(spark, path)
    val dest = sidecarPath(path)
    require(fs.exists(dest),
      s"no _pq_codebooks sidecar at $path — not a PQ index artifact " +
        "(build with saveIvfPqPostings / savePqCodebooks)")
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
    val residual = p(5) == "1"
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
      val row = new Array[Double](dsub)
      var j = 0
      while (j < dsub) {
        row(j) = java.lang.Double.longBitsToDouble(
          java.lang.Long.parseUnsignedLong(f(j + 2), 16))
        j += 1
      }
      codes(r) = row
    }
    val cs = PqCodebookSet(m, dsub, k, codes)
    require(cs.checksum == storedCk,
      s"pq codebook sidecar at $dest fails its checksum " +
        s"(stored $storedCk, recomputed ${cs.checksum}) — corrupted " +
        "sidecar; rebuild the artifact")
    (cs, residual)
  }
}
