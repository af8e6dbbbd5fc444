package graft.mr

import java.nio.file.Files
import scala.util.Using
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.OpsUtil

/** The MR parity layer's face on the declared-query gate: the same
  * word count the relational `word_count` query computes, but driven
  * through the FULL [[MapReduceRunner]] dataflow — textFile scan,
  * per-partition streaming map, md5-mod shuffle with in-partition
  * byte sort, key-adjacent streaming reduce, part-file text sink —
  * and only then lifted back into a DataFrame. CrossLayerSpec proves
  * layer equivalence in-suite; this entry makes the driver's DuckDB
  * oracle hash the MR engine's actual output end-to-end.
  *
  * Scale: the MR stages are the reference's own shapes (SURVEY.md §3)
  * on Spark's sort-based shuffle — nothing here is harness-only. The
  * final read-back is |vocabulary| rows (the corpus vocabulary is
  * closed), eagerly checkpointed so the scratch dirs can be deleted
  * immediately instead of leaking one pair per run.
  */
object MrQueries {

  /** Declared query `mr_word_count`: oracle-identical to
    * `word_count` ([[graft.ops.TextOps.wordCountSql]]) — lowercase
    * whitespace tokens, (word, cnt), ordered by word. */
  def mrWordCount(spark: SparkSession, d: String): DataFrame =
    // mapper = the library's canonical tokenizer (OpsUtil.tokens:
    // locale-independent lowercase, \s+ split, drop empties — the
    // oracle contract is SQL lower(), so the mapper must not pick up
    // the JVM default locale's casing rules); reducer = the
    // reference's wc_reduce.sh adjacent-key count. Newlines inside a
    // document only split its text-file lines, which is
    // token-neutral for a whitespace tokenizer.
    viaRunner(spark, d, "graft-mrwc",
      FnSpec(_.flatMap(_.toLowerCase(java.util.Locale.ROOT).split("\\s+"))
        .filter(_.nonEmpty).map(w => s"$w\t1")),
      FnSpec(Workloads.wcReduceSh))(
      _.select(split(col("value"), "\t").as("kv"))
        .select(col("kv").getItem(0).as("word"),
          col("kv").getItem(1).cast("long").as("cnt"))
        .orderBy("word"))

  /** Runs one job over the `documents` corpus staged as text lines,
    * M = R = 8, and returns `readBack` of its output, pinned by an
    * eager checkpoint (|vocabulary| or |matches| rows) so the scratch
    * dirs can go at once instead of leaking one pair per run. The
    * cleanup runs however the job ends; if the job threw, a failed
    * cleanup is added to that exception as suppressed instead of
    * replacing it. */
  private def viaRunner(spark: SparkSession, d: String, prefix: String,
      mapper: StageSpec, reducer: StageSpec)(
      readBack: DataFrame => DataFrame): DataFrame =
    Using.resource(Files.createTempDirectory(prefix)) { root =>
      val inDir = root.resolve("in").toString
      val outDir = root.resolve("out").toString // the runner creates it (F9)
      graft.Tables.documents(spark, d).select(col("text"))
        .write.mode("overwrite").text(inDir)
      MapReduceRunner.run(spark, MapReduceJob(
        inputDirectory = inDir, outputDirectory = outDir,
        mapper = mapper, reducer = reducer, numMappers = 8, numReducers = 8))
      readBack(spark.read.text(outDir)).localCheckpoint(true)
    }(root => OpsUtil.deleteRecursively(root.toString))

  /** Space-only edge trim — the EXACT semantics of DuckDB's
    * `trim(line)`: Java `.strip()` (all Unicode whitespace) silently
    * diverged from the oracle on lines with edge tabs/CR/NBSP (r10
    * advice). Mirroring the oracle function removes the divergence
    * class instead of hoping the corpus never exercises it. */
  private[mr] def spaceTrim(s: String): String = {
    var i = 0
    var j = s.length
    while (i < j && s.charAt(i) == ' ') i += 1
    while (j > i && s.charAt(j - 1) == ' ') j -= 1
    if (i == 0 && j == s.length) s else s.substring(i, j)
  }

  /** The mr_grep staging mapper, exposed for direct unit tests.
    * Two latent oracle divergences are made LOUD instead of
    * data-dependent: a staged line containing a TAB would be silently
    * dropped by grepReduce's 2-field contract but kept by the oracle,
    * and a bare CR is eaten by the Hadoop line reader but kept by
    * DuckDB's chr(10) split — either kills the job with a message
    * naming the contract rather than passing or failing on corpus
    * luck. */
  private[mr] val grepStageMapper: Iterator[String] => Iterator[String] =
    _.map { raw =>
      require(raw.indexOf('\t') < 0 && raw.indexOf('\r') < 0,
        "mr_grep staging contract: staged lines must contain no tab/CR " +
          "(tab lines are dropped by the reducer's 2-field split; bare CR " +
          s"is eaten by the line reader) — got: ${raw.take(80)}")
      spaceTrim(raw)
    }.filter(_.nonEmpty)
      .filter(_.toLowerCase(java.util.Locale.ROOT).contains("spark"))
      .map(l => s"1\t$l")

  /** Declared query `mr_grep`: the reference's grep workload
    * (grep_map emits `1 TAB line` for lines whose lowercase contains
    * the query; grep_reduce projects the line back) through the full
    * MR dataflow over the documents corpus staged as text lines.
    * Output is the matching lines themselves, duplicates preserved —
    * exactly what the reference pipeline emits. The mapper lowercases
    * with Locale.ROOT (the oracle contract is SQL lower(); the
    * pipe-parity Workloads.grepMap keeps the reference's
    * default-locale .lower() instead, which PipeFidelitySpec pins)
    * and trims spaces only ([[spaceTrim]] = the oracle's trim()). */
  def mrGrep(spark: SparkSession, d: String): DataFrame =
    viaRunner(spark, d, "graft-mrgrep", FnSpec(grepStageMapper),
      FnSpec(Workloads.grepReduce))(
      _.select(col("value").as("line")).orderBy("line"))

  // Lines are the staged text-file lines (documents split at embedded
  // newlines), space-trimmed (= the mapper's spaceTrim), blanks
  // dropped, kept on lowercase-contains.
  def mrGrepSql: String =
    """WITH lines AS (
      |  SELECT trim(UNNEST(string_split(text, chr(10)))) AS line
      |  FROM documents)
      |SELECT line FROM lines
      |WHERE line <> '' AND contains(lower(line), 'spark')
      |ORDER BY line""".stripMargin

}
