package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkTestSession, Tables}

/** The `.jsonl.zst` source: the honest-rehearsal evidence (the
  * src_jdbc / RecordingJdbcDriver stance) plus the working zstd-jni
  * round trip. */
class ZstdSourceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("PINNED: Hadoop ZStandardCodec physically cannot load in this distribution") {
    // spark.read.text transparently decompresses via Hadoop's codec
    // chain; for .zst that is ZStandardCodec, which requires a
    // libhadoop built WITH zstd. This distribution's wasn't — the
    // codec class loads but any stream construction raises. Pinning
    // the exact failure documents why src_jsonl_zst routes through
    // zstd-jni instead of `Formats.readJsonl` like its gz/bz2
    // siblings; if a future distribution ships a zstd-enabled
    // libhadoop, this test fails and the simpler route opens.
    val codec = new org.apache.hadoop.io.compress.ZStandardCodec()
    codec.setConf(new org.apache.hadoop.conf.Configuration())
    val e = intercept[RuntimeException] {
      codec.createOutputStream(new java.io.ByteArrayOutputStream())
    }
    assert(e.getMessage.contains("native zStandard library not available"),
      s"unexpected failure mode: ${e.getMessage}")
  }

  test("zstd-jni (Spark's own shuffle-compression library) round-trips streams") {
    val payload = ("zstd éü中文 line\n" * 1000).getBytes("UTF-8")
    val bos = new java.io.ByteArrayOutputStream()
    val zo = new com.github.luben.zstd.ZstdOutputStream(bos, 3)
    zo.write(payload); zo.close()
    assert(bos.size() < payload.length / 10, "repetitive text must compress hard")
    val zi = new com.github.luben.zstd.ZstdInputStream(
      new java.io.ByteArrayInputStream(bos.toByteArray))
    assert(java.util.Arrays.equals(zi.readAllBytes(), payload))
  }

  test("src_jsonl_zst fingerprint equals the raw-parquet fingerprint at sf0.001") {
    val got = SourceQueries.jsonlZstDocStats(spark, sf)
    val want = Tables.documents(spark, sf)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("doc_id")).as("n_distinct"),
        sum(col("doc_id")).as("sum_doc_id"),
        sum(col("n_chars")).as("sum_n_chars"),
        sum(length(col("text")).cast("long")).as("sum_text_chars"))
      .orderBy("lang", "source")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "zstd JSONL round trip must preserve every column of every row")
    graft.ops.SharedBuild.releaseAll()
  }

  test("src_jsonl_zst_seek: ONE archive fans out to one task per frame and round-trips") {
    val got = SourceQueries.jsonlZstSeekDocStats(spark, sf)
    val want = Tables.documents(spark, sf)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("doc_id")).as("n_distinct"),
        sum(col("doc_id")).as("sum_doc_id"),
        sum(col("n_chars")).as("sum_n_chars"),
        sum(length(col("text")).cast("long")).as("sum_text_chars"))
      .orderBy("lang", "source")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "seekable-zstd round trip must preserve every column of every row")
    graft.ops.SharedBuild.releaseAll()
  }

  test("seekable frames restore parallelism a plain zstd stream cannot have") {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("graft-zstseek").toString
    // hand-build a 3-frame member + index: frames are INDEPENDENT zstd
    // streams, so any frame decodes without touching the others
    var offset = 0L
    val idx = new StringBuilder
    val ch = Files.newOutputStream(Paths.get(s"$dir/corpus.jsonl.zst"))
    try (1 to 3).foreach { f =>
      val bos = new java.io.ByteArrayOutputStream()
      val zo = new com.github.luben.zstd.ZstdOutputStream(bos, 3)
      (1 to 10).foreach(i => zo.write(s"frame$f-line$i\n".getBytes("UTF-8")))
      zo.close()
      ch.write(bos.toByteArray)
      idx.append(s"$offset,${bos.size()},10\n")
      offset += bos.size()
    } finally ch.close()
    Files.write(Paths.get(s"$dir/corpus.zstidx"),
      idx.toString.getBytes("UTF-8"))
    val lines = SourceQueries.readZstSeekLines(spark, dir)
    assert(lines.rdd.getNumPartitions === 3,
      "one task per frame — the whole point of the sidecar index")
    assert(lines.count() === 30)
    // spot the frame boundaries survived: first line of each frame
    val all = lines.collect().map(_.getString(0)).toSet
    assert(all.contains("frame1-line1") && all.contains("frame3-line10"))
  }

  test("a LIMITed line read exits early (completion listener closes the open stream)") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft-zst-limit").toString
    val os = new com.github.luben.zstd.ZstdOutputStream(
      Files.newOutputStream(java.nio.file.Paths.get(s"$dir/one.jsonl.zst")), 3)
    (1 to 100000).foreach(i => os.write(s"""{"i":$i}\n""".getBytes("UTF-8")))
    os.close()
    // limit(2) stops the task mid-file: the iterator never reaches the
    // happy-path close, only the completion listener reaps the stream
    val got = SourceQueries.streamZstLines(spark, dir, "*.jsonl.zst")
      .limit(2).collect().map(_.getString(0))
    assert(got.toSeq === Seq("""{"i":1}""", """{"i":2}"""))
  }
}
