package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Declared query `src_binaryfile`: Spark's `binaryFile` data source —
  * the ingest path for DIRECTORIES OF OPAQUE FILES, which is how
  * image/audio/video corpora actually arrive (one file per asset, not
  * rows in a table). The multimodal suite (`mm_*`) decodes payloads it
  * staged through parquet; this closes the step before it: list a
  * landing directory, read each file as a (path, modificationTime,
  * length, content) row, and fingerprint the bytes.
  *
  * Why this scales: binaryFile is a FileFormat like parquet — the
  * file listing is distributed, files pack into tasks under
  * `spark.sql.files.maxPartitionBytes`, and `pathGlobFilter`/
  * partition-dir pruning cut the listing before any byte is read. The
  * declared query reads every staged file and emits per-file byte
  * length + md5, i.e. exactly the manifest a 100 TB asset-ingest job
  * writes first (dedupe by content hash, then decode).
  *
  * Staging: min(60, corpus) documents are written out as one UTF-8
  * `.txt` file each — a bounded driver-side loop, like every src_*
  * stager (the STAGING is test scaffolding; the READ is the product).
  * The oracle recomputes length/md5 from the documents table: DuckDB's
  * md5(VARCHAR) hashes the UTF-8 bytes, which is byte-identical to
  * Spark's md5 over the file content because the stager wrote exactly
  * those bytes.
  *
  * Reference scope: the EECS 485 framework ingests text files line by
  * line (mapreduce/manager/__main__.py); whole-file binary ingest is
  * extension surface for the multimodal pipeline story.
  */
object BinaryFileSource {

  private val MaxDocs = 60

  /** The landing dir, staged once per (session, sfDir) in
    * [[graft.ops.SharedBuild]]. */
  private def stage(spark: SparkSession, d: String): String =
    graft.ops.SharedBuild.staged(spark, "binary", d) {
      val dir = java.nio.file.Files.createTempDirectory("graft-src-binary")
      graft.Tables.documents(spark, d)
        .select(col("doc_id"), col("text"))
        .where(col("doc_id") < MaxDocs)
        .collect() // bounded: ≤ MaxDocs rows, staging only
        .foreach { r =>
          java.nio.file.Files.write(
            dir.resolve(f"${r.getLong(0)}%06d.txt"),
            r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
      dir.toString
    }(graft.ops.OpsUtil.deleteRecursively)

  /** Per-file ingest manifest off the binaryFile read: id parsed from
    * the path, byte length from the file status (no content read
    * needed for it), content md5 — the dedupe key an asset pipeline
    * computes on arrival. */
  def binaryFileStats(spark: SparkSession, d: String): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.txt")
      .load(stage(spark, d))
      .select(
        regexp_extract(col("path"), "(\\d+)\\.txt$", 1).cast("long").as("doc_id"),
        col("length").as("n_bytes"),
        md5(col("content")).as("content_md5"))
      .orderBy("doc_id")

  def binaryFileStatsSql: String =
    s"""SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       |  md5(text) AS content_md5
       |FROM documents WHERE doc_id < $MaxDocs ORDER BY doc_id""".stripMargin
}
