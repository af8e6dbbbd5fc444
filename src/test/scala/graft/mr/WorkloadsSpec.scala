package graft.mr

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** The native word-count mapper and reducers against the shell and
  * Python programs they port, fed the same lines. */
class WorkloadsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("wcMapSh emits exactly what the wc_map.sh pipeline emits") {
    val script =
      """export LC_ALL=C; tr '[ \t]' '\n' | tr '[:upper:]' '[:lower:]' | awk '{print $1"\t1"}'"""
    val lines = Seq("foo[bar] ÉCOLE", "Hello  World", "\tTab\tLead\t", "", "[]", "][",
      "MiXeD [x] y]", "ÀÉÎ abc DEF Zz", "form\ffeed", "naïve İstanbul ß", "a  b\t\tc [d]")
    val rdd = spark.sparkContext.parallelize(lines, 1)
    val native = MapReduceRunner.applyStage(rdd, FnSpec(Workloads.wcMapSh)).collect().toSeq
    val shell = MapReduceRunner.applyStage(rdd, ExecSpec(Seq("bash", "-c", script))).collect().toSeq
    assert(native === shell)
    assert(native.take(4) === Seq("foo\t1", "bar\t1", "\t1", "École\t1"))
  }

  test("wcReduceSh and wcReducePy emit exactly what the shell and Python reducers emit") {
    def both(lines: Seq[String], native: Iterator[String] => Iterator[String],
             cmd: Seq[String]): Seq[String] = {
      val rdd = spark.sparkContext.parallelize(lines, 1)
      val out = MapReduceRunner.applyStage(rdd, FnSpec(native)).collect().toSeq
      assert(out === MapReduceRunner.applyStage(rdd, ExecSpec(cmd)).collect().toSeq)
      out
    }
    // sorted input: the empty key (a blank line and "\t1" lines), a key
    // that prefixes the next one, and a tabless line that is its own key
    val sh = both(Seq("", "\t1", "\t1", "a\t1", "a\t1", "ab\t1", "plain", "plain\t1", "école\t1"),
      Workloads.wcReduceSh,
      Seq("bash", "-c", """export LC_ALL=C; cut -f1 | uniq -c | awk '{print $2"\t"$1}'"""))
    assert(sh === Seq("\t3", "a\t2", "ab\t1", "plain\t2", "école\t1"))
    val groupby =
      """import itertools, sys
        |key = lambda l: l.partition("\t")[0]
        |for k, g in itertools.groupby(sys.stdin, key):
        |    print(k, sum(int(l.partition("\t")[2]) for l in g))
        |""".stripMargin
    val py = both(Seq("\t1", "\t2", "a\t1", "a\t3", "ab\t-1", "ab\t1", "é\t10", "é\t5"),
      Workloads.wcReducePy, Seq("env", "PYTHONIOENCODING=utf-8", "python3", "-c", groupby))
    assert(py === Seq(" 3", "a 4", "ab 0", "é 15"))
  }
}
