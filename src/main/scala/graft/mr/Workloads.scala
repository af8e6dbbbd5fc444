package graft.mr

/** Native Scala ports of the reference's shipped executables
  * (SURVEY.md §2.2) — each function is a per-partition line-stream
  * transform suitable for [[FnSpec]]. Semantics matched shell-op by
  * shell-op, including the empty-token behavior the goldens depend on
  * (SURVEY.md §2.4.3).
  */
object Workloads {

  /** wc_map.sh (tests/testdata/exec/wc_map.sh:12), under `LC_ALL=C`:
    * `tr '[ \t]' '\n' | tr '[:upper:]' '[:lower:]' | awk '{print $1"\t1"}'`
    * — GNU tr takes the brackets literally, so space, TAB, `[` and `]`
    * each start a new token, and consecutive separators emit EMPTY
    * tokens ("\t1" lines), which the golden counts
    * (word_count_correct.txt:1 is "\t9"). The C locale lowercases
    * A–Z only. */
  def wcMapSh(lines: Iterator[String]): Iterator[String] =
    lines.flatMap { line =>
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      val tok = new java.lang.StringBuilder
      var i = 0
      while (i <= line.length) {
        val c = if (i < line.length) line.charAt(i) else '\n'
        if (c == '\n' || c == ' ' || c == '\t' || c == '[' || c == ']') {
          out += tok.append("\t1").toString
          tok.setLength(0)
        } else tok.append(if (c >= 'A' && c <= 'Z') (c + ('a' - 'A')).toChar else c)
        i += 1
      }
      out
    }

  /** wc_reduce.sh (tests/testdata/exec/wc_reduce.sh:14):
    * `cut -f1 | uniq -c | awk '{print $2"\t"$1}'` — adjacent-key
    * count over the sorted stream. */
  def wcReduceSh(lines: Iterator[String]): Iterator[String] =
    sumAdjacent(lines)(_ => 1).map { case (k, n) => s"$k\t$n" }

  /** wc_map.py (tests/testdata/exec/wc_map.py:6-9): Python
    * `str.split()` — runs of whitespace, NO empty tokens, no
    * lowercasing. */
  def wcMapPy(lines: Iterator[String]): Iterator[String] =
    lines.flatMap(_.split("\\s+").filter(_.nonEmpty).map(w => s"$w\t1"))

  /** wc_reduce.py (tests/testdata/exec/wc_reduce.py:11-30): group
    * adjacent keys, sum int values, emit `key SPACE total`. */
  def wcReducePy(lines: Iterator[String]): Iterator[String] =
    sumAdjacent(lines)(l => l.substring(l.indexOf('\t') + 1).toInt)
      .map { case (k, total) => s"$k $total" }

  /** One streaming pass over a sorted stream: sums `value(line)` over
    * each run of lines with the same key (`MapReduceJob.keyOf`), as
    * `uniq -c` and `itertools.groupby` do, without holding a run's
    * lines. A line continues key k when it starts with k followed by
    * a TAB or its end (k holds no TAB). */
  private def sumAdjacent(lines: Iterator[String])(value: String => Int): Iterator[(String, Int)] =
    new Iterator[(String, Int)] {
      private val it = lines.buffered
      def hasNext: Boolean = it.hasNext
      def next(): (String, Int) = {
        val k = MapReduceJob.keyOf(it.head)
        var sum = 0
        while (it.hasNext && {
          val l = it.head
          l.startsWith(k) && (l.length == k.length || l.charAt(k.length) == '\t')
        }) sum += value(it.next())
        (k, sum)
      }
    }

  /** grep_map.py (tests/testdata/exec/grep_map.py:14-28): strip, drop
    * blanks, keep lines whose lowercase contains the query, emit
    * `1 TAB line`. */
  def grepMap(query: String = "product")(lines: Iterator[String]): Iterator[String] =
    lines.map(_.strip()).filter(_.nonEmpty)
      .filter(_.toLowerCase.contains(query))
      .map(l => s"1\t$l")

  /** grep_reduce.py (tests/testdata/exec/grep_reduce.py:14-27):
    * project the value; lines that don't split into exactly 2 TAB
    * fields are dropped. */
  def grepReduce(lines: Iterator[String]): Iterator[String] =
    lines.map(_.strip()).map(_.split("\t")).collect {
      case Array(_, value) => value
    }
}
