package graft.mr

import java.math.BigInteger
import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Arbitrary, Gen, Prop, Properties}

/** Pinned values for the md5-mod shuffle partitioner (reference:
  * worker/__main__.py:142-144), implied by the test_worker_08
  * goldens: with R=2, keys {"", bye, hello} land in partition 0 and
  * {world, goodbye, hadoop} in partition 1. */
class Md5PartitionerSpec extends AnyFunSuite {

  test("pinned partition assignments from test_worker_08 goldens") {
    def p(k: String) = Md5LinePartitioner.partitionOf(k, 2)
    assert(p("") === 0)
    assert(p("bye") === 0)
    assert(p("hello") === 0)
    assert(p("world") === 1)
    assert(p("goodbye") === 1)
    assert(p("hadoop") === 1)
  }
}

/** ScalaCheck properties for partitioner + tokenizer. */
object Md5PartitionerProps extends Properties("Md5LinePartitioner") {
  import Prop.forAll

  property("partition in [0, R)") =
    forAll(Gen.asciiPrintableStr, Gen.choose(1, 64)) { (s, r) =>
      val p = Md5LinePartitioner.partitionOf(s, r)
      p >= 0 && p < r
    }

  // the reference formula, int(md5(key).hexdigest(), 16) % r, in
  // BigInteger arithmetic; unicode strings, r over the whole Int range
  property("partitionOf equals BigInteger(1, md5(utf8)).mod(r)") =
    forAll(Gen.listOfN(50, Gen.oneOf(Gen.asciiPrintableStr, Arbitrary.arbitrary[String])),
        Gen.oneOf(Gen.choose(1, 64), Gen.choose(1, Int.MaxValue), Gen.const(Int.MaxValue))) {
      (keys, r) =>
        keys.forall { k =>
          val md5 = MessageDigest.getInstance("MD5").digest(k.getBytes(StandardCharsets.UTF_8))
          Md5LinePartitioner.partitionOf(k, r) ==
            new BigInteger(1, md5).mod(BigInteger.valueOf(r.toLong)).intValueExact()
        }
    }

  property("keys on the prefix before the first TAB") =
    forAll(Gen.alphaNumStr, Gen.alphaNumStr, Gen.choose(1, 16)) { (k, v, r) =>
      val part = new Md5LinePartitioner(r)
      part.getPartition(s"$k\t$v") == Md5LinePartitioner.partitionOf(k, r) &&
        part.getPartition(s"$k\t$v\tmore") == Md5LinePartitioner.partitionOf(k, r)
    }

  property("tabless lines are their own key") =
    forAll(Gen.alphaNumStr, Gen.choose(1, 16)) { (s, r) =>
      new Md5LinePartitioner(r).getPartition(s) ==
        Md5LinePartitioner.partitionOf(s, r)
    }

  property("wc tokenizer emits one KV per [ \\t]-separated token") =
    forAll(Gen.listOf(Gen.oneOf(Gen.alphaNumStr, Gen.const(""), Gen.const(" ")))) { toks =>
      val line = toks.mkString(" ")
      val out = Workloads.wcMapSh(Iterator(line)).toSeq
      out.size == line.split("[ \t]", -1).length && out.forall(_.endsWith("\t1"))
    }
}
