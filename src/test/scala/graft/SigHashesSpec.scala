package graft

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.SigHashes

/** The signature kernels called directly, no Spark session: each value
  * rebuilt from its definition in the kernel's doc. SignatureParitySpec
  * pins the same kernels against the aggregation formulations on real
  * documents. */
class SigHashesSpec extends AnyFunSuite {

  private def u(s: String) = UTF8String.fromString(s)
  private def h(tok: String) = XXH64.hashUTF8String(u(tok), 42L)
  private def toks(text: String) = SigHashes.tokens(u(text)).map(_.toString).toSeq

  test("tokens: space-trimmed, lower-cased, split on whitespace runs") {
    assert(toks("  Hello  WORLD\tagain \n x ") == Seq("hello", "world", "again", "x"))
    // trim strips spaces only, like Spark's trim: a leading tab leaves
    // an empty first token, as split(lower(trim(text)), '\\s+') does
    assert(toks("\tword") == Seq("", "word"))
  }

  test("minhashRow: shh is the sorted distinct token hashes") {
    val row = SigHashes.minhashRow(u("b a B c a"), 4)
    val shh = row.getArray(0).toLongArray().toSeq
    assert(shh == Seq("a", "b", "c").map(h).sorted)
  }

  test("minhashRow: slot s is the least hashInt(s + 1, h) over distinct hashes") {
    val n = 16
    val sig = SigHashes.minhashRow(u("the quick brown fox the"), n)
      .getArray(1).toLongArray().toSeq
    val hs = Seq("the", "quick", "brown", "fox").map(h)
    assert(sig == (0 until n).map(s => hs.map(XXH64.hashInt(s + 1, _)).min))
  }

  test("minhashRow: token order and repeats do not change the row") {
    def row(t: String) = {
      val r = SigHashes.minhashRow(u(t), 8)
      (r.getArray(0).toLongArray().toSeq, r.getArray(1).toLongArray().toSeq)
    }
    assert(row("a b c") == row("c b a a B"))
  }

  test("simhashPacked: one token packs to its own hash") {
    for (t <- Seq("a", "graft", "é", "日本")) assert(SigHashes.simhashPacked(u(t)) == h(t))
  }

  test("simhashPacked: repeated tokens weigh in") {
    // two tokens: a bit is set only where both hashes have it (a tie
    // counts 0, not positive); a third vote for y makes y's bits win
    assert(SigHashes.simhashPacked(u("x y")) == (h("x") & h("y")))
    assert(SigHashes.simhashPacked(u("x y y")) == h("y"))
  }

  test("simhashPackedMd5: bit j is bit j % 4 of hex nibble j / 4 of the token's md5") {
    for (t <- Seq("a", "graft", "é")) {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8"))
      val hex = md.map(b => f"${b & 0xff}%02x").mkString
      val want = (0 until 64).foldLeft(0L) { (acc, j) =>
        val nib = Integer.parseInt(hex.substring(j / 4, j / 4 + 1), 16)
        if (((nib >>> (j % 4)) & 1) == 1) acc | (1L << j) else acc
      }
      assert(SigHashes.simhashPackedMd5(u(t)) == want, t)
    }
  }
}
