package graft.mr

/** The reference's user-facing job surface, as a typed API.
  *
  * Mirrors the `new_manager_job` message fields
  * (/root/reference/mapreduce/submit.py:80-88): input/output
  * directories, mapper and reducer, M map tasks, R reduce tasks.
  * The manager/worker protocol itself (SURVEY.md §2.1 F10-F17) is
  * replaced wholesale by Spark's scheduler.
  *
  * Mapper/reducer come in two flavors, matching the reference's
  * Hadoop-Streaming contract (SURVEY.md §2.3 UDF surface):
  *  - [[ExecSpec]]: an external executable, run unchanged via
  *    `RDD.pipe` — the byte-fidelity path (F3/F7).
  *  - [[FnSpec]]: a native Scala line-stream transform — the fast
  *    path (no process boundary, stays in the JVM).
  *
  * Both see the exact reference contract: the mapper consumes raw
  * input lines and emits `key TAB value` lines; the reducer consumes
  * a sorted stream in which all lines of a key are adjacent
  * (SURVEY.md §2.4.5) and emits arbitrary output lines.
  */
sealed trait StageSpec
/** External executable + args (e.g. the reference's own wc_map.sh). */
final case class ExecSpec(command: Seq[String]) extends StageSpec
/** Native per-partition line-stream transform (must be serializable). */
final case class FnSpec(f: Iterator[String] => Iterator[String]) extends StageSpec

final case class MapReduceJob(
    inputDirectory: String,
    outputDirectory: String,
    mapper: StageSpec,
    reducer: StageSpec,
    numMappers: Int = 2,
    numReducers: Int = 2,
    /** When true, F2 reproduces the reference manager's EXACT
      * file→task routing: sorted filenames assigned round-robin, file
      * i → map task i % M (manager/__main__.py:101-107) — map task m
      * then sees precisely the reference's input slice, which unlocks
      * the per-task `maptask{m:05d}-part{r:05d}` intermediate goldens
      * (test_worker_08.py:222-243). Default false: `minPartitions=M`
      * lets Spark split by size, which is the better plan at scale
      * (balanced splits beat per-file round-robin on skewed file
      * sizes); routing parity is a golden-compat mode, not the
      * performance path. */
    exactFileRouting: Boolean = false)

object MapReduceJob {
  /** Key extraction: text before the first TAB; a line with no TAB is
    * its own key (/root/reference/mapreduce/worker/__main__.py:141,
    * SURVEY.md §2.4.1). */
  def keyOf(line: String): String = {
    val i = line.indexOf('\t')
    if (i < 0) line else line.substring(0, i)
  }
}
