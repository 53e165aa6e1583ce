package graft

import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.text.BpeKernel

/** The BPE encode kernel called directly, no Spark session: the
  * normalization and merge order its doc states, on inputs small
  * enough to check by hand. BpeSpec pins the kernel against the
  * replace-chain formulation on adversarial and random strings. */
class BpeKernelSpec extends AnyFunSuite {

  private def encode(text: String, merges: (String, String)*): String =
    BpeKernel.encodePiped(UTF8String.fromString(text),
      merges.map(_._1).toArray, merges.map(_._2).toArray).toString

  test("empty and space-only text encode to the empty string") {
    assert(encode("") == "")
    assert(encode("   ", "a" -> "b") == "")
  }

  test("without merges every character is its own symbol; words join with | |") {
    assert(encode("Ab c") == "|a||b|| ||c|")
  }

  test("normalization: trimmed, lower-cased, whitespace runs collapsed") {
    val merges = Seq("a" -> "b", "ab" -> "c")
    assert(encode("  ABC \t\n Ab  ", merges: _*) == encode("abc ab", merges: _*))
    assert(encode("abc ab", merges: _*) == "|abc|| ||ab|")
  }

  test("a merge pairs symbols greedily left to right, without overlap") {
    assert(encode("aaa", "a" -> "a") == "|aa||a|")
    assert(encode("aaaa", "a" -> "a") == "|aa||aa|")
  }

  test("merges apply in rank order, and a merged symbol feeds later ranks") {
    assert(encode("abc", "a" -> "b", "b" -> "c") == "|ab||c|")
    assert(encode("abc", "b" -> "c", "a" -> "b") == "|a||bc|")
    assert(encode("abc abc", "a" -> "b", "ab" -> "c") == "|abc|| ||abc|")
  }

  test("a supplementary code point stays one symbol") {
    assert(encode("😀a") == "|😀||a|")
    assert(encode("😀a", "😀" -> "a") == "|😀a|")
  }
}
