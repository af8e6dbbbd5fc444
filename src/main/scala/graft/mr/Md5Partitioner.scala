package graft.mr

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import org.apache.spark.Partitioner

/** The reference's shuffle partitioner:
  * `int(md5(key).hexdigest(), 16) % num_partitions`
  * (/root/reference/mapreduce/worker/__main__.py:142-144).
  *
  * Spark SQL's `hash()` is Murmur3, so per-partition-file parity with
  * the reference's `maptask*-part*` / `part-*` goldens requires
  * reimplementing md5-mod (SURVEY.md §2.4.2). Keys are hashed as
  * UTF-8 bytes (worker/__main__.py:142 `key.encode("utf-8")`).
  *
  * Partition keys are whole `key TAB value` LINES — the partition is
  * derived from the key prefix but the shuffle sorts whole lines,
  * reproducing the reference's per-partition `sort(1)` byte order
  * (F5). ASCII data sorts identically under Java String order
  * (SURVEY.md §2.4.4).
  */
class Md5LinePartitioner(override val numPartitions: Int) extends Partitioner {
  require(numPartitions > 0)

  override def getPartition(key: Any): Int = key match {
    case line: String => Md5LinePartitioner.partitionOf(MapReduceJob.keyOf(line), numPartitions)
    case other => throw new IllegalArgumentException(s"expected String line, got $other")
  }

  override def equals(other: Any): Boolean = other match {
    case p: Md5LinePartitioner => p.numPartitions == numPartitions
    case _ => false
  }
  override def hashCode: Int = numPartitions
}

object Md5LinePartitioner {
  private val md5 = ThreadLocal.withInitial[MessageDigest](() => MessageDigest.getInstance("MD5"))

  /** `BigInteger(1, md5(utf8(key))) mod r` — non-negative by
    * construction, matching Python's int % semantics. Computed by
    * folding the big-endian digest bytes: acc < r < 2^31, so
    * `acc << 8 | byte` stays within a Long. */
  def partitionOf(key: String, r: Int): Int = {
    val digest = md5.get().digest(key.getBytes(StandardCharsets.UTF_8))
    var acc = 0L
    var i = 0
    while (i < digest.length) {
      acc = ((acc << 8) | (digest(i) & 0xff)) % r
      i += 1
    }
    acc.toInt
  }
}
