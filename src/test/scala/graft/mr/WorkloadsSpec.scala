package graft.mr

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** The native word-count mapper against the one-line shell mapper it
  * ports (`LC_ALL=C`, GNU tr, awk), fed the same lines. */
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
}
