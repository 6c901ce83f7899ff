package graft

import org.scalatest.funsuite.AnyFunSuite
import org.json4s._
import graft.ops.Similarity

/** difflib `SequenceMatcher.ratio()` parity — fixtures precomputed by
  * CPython (tools/gen_goldens.py), spanning empty strings, transposed
  * blocks, the 0.90-threshold region, and the autojunk regime (|b| >= 200).
  * Exactness matters: the reference's verify decision is `ratio >= 0.90`
  * (pdf_extraction/pubmed_enrichment.py:291-293). */
class SimilaritySpec extends AnyFunSuite {

  Goldens.load("similarity").zipWithIndex.foreach { case (g, i) =>
    test(s"ratio golden #$i") {
      val a = Goldens.str(g("a"))
      val b = Goldens.str(g("b"))
      val expected = Goldens.dbl(g("ratio"))
      val got = Similarity.ratio(a, b)
      assert(math.abs(got - expected) < 1e-12,
        s"ratio('$a','$b') expected $expected got $got")
    }
  }

  // ── matchingBlocks: the f12 oracle's replay-trace layer ─────────────
  // CPython get_matching_blocks() parity, block by block (positions AND
  // sizes), over the ratio pair list + 60 p_name-shaped fuzz pairs
  Goldens.load("matching_blocks").zipWithIndex.foreach { case (g, i) =>
    test(s"matching blocks golden #$i") {
      val a = Goldens.str(g("a"))
      val b = Goldens.str(g("b"))
      val expected = (g("blocks"): @unchecked) match {
        case JArray(bs) => bs.flatMap { case JArray(t) =>
          t.map { case JInt(n) => n.toInt
                  case other => sys.error(s"not int: $other") } }
      }
      val got = Similarity.matchingBlocks(a, b).toList
      assert(got == expected, s"blocks('$a','$b')")
    }
  }

  test("matchingBlocks invariants on 500 fuzz pairs: valid ordered " +
      "non-overlapping common substrings whose total reproduces ratio()") {
    val rnd = new scala.util.Random(42)
    val alpha = "abcdefg "
    def mk(n: Int) = (0 until n).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
    for (_ <- 0 until 500) {
      val a = mk(rnd.nextInt(40))
      val b = if (rnd.nextBoolean()) mk(rnd.nextInt(40))
        else a.patch(rnd.nextInt(math.max(1, a.length)), mk(3), rnd.nextInt(4))
      val blocks = Similarity.matchingBlocks(a, b).grouped(3).map(_.toList).toSeq
      var lastA = 0; var lastB = 0; var m = 0
      for (List(pa, pb, len) <- blocks) {
        assert(len > 0 && pa >= lastA && pb >= lastB,
          s"order/overlap violated on ('$a','$b')")
        assert(a.substring(pa, pa + len) == b.substring(pb, pb + len),
          s"not a common substring on ('$a','$b')")
        lastA = pa + len; lastB = pb + len; m += len
      }
      val expected = if (a.length + b.length == 0) 1.0
        else 2.0 * m / (a.length + b.length)
      assert(Similarity.ratio(a, b) == expected,
        s"ratio != 2·Σblocks/(la+lb) on ('$a','$b')")
    }
  }

  // ── autojunk-divergence goldens: 25 pairs where the junk-gated
  // extension bug (popular chars treated as junk in the extension loops
  // instead of only being dropped from b2j) provably produces DIFFERENT
  // blocks/ratio than CPython (adversarial search in tools/gen_goldens.py
  // against a simulation of the buggy kernel). Both ratio and blocks must
  // match difflib exactly — these fail on any junk-gated regression.
  Goldens.load("similarity_divergent").zipWithIndex.foreach { case (g, i) =>
    test(s"autojunk divergence golden #$i (blocks + ratio)") {
      val a = Goldens.str(g("a"))
      val b = Goldens.str(g("b"))
      val expected = (g("blocks"): @unchecked) match {
        case JArray(bs) => bs.flatMap { case JArray(t) =>
          t.map { case JInt(n) => n.toInt
                  case other => sys.error(s"not int: $other") } }
      }
      assert(Similarity.matchingBlocks(a, b).toList == expected)
      assert(math.abs(Similarity.ratio(a, b) - Goldens.dbl(g("ratio"))) < 1e-12)
    }
  }

  test("matchingBlocks invariants on 200 AUTOJUNK-regime fuzz pairs " +
      "(|b| >= 200, mixed popular/rare chars): blocks valid and total " +
      "reproduces ratio() even when extensions cross popular chars") {
    val rnd = new scala.util.Random(1207)
    def mixed(n: Int): String = {
      val sb = new StringBuilder(n)
      var i = 0
      while (i < n) {
        val r = rnd.nextDouble()
        sb.append(
          if (r < 0.45) 'a'
          else if (r < 0.90) ' '
          else "wxyzqv".charAt(rnd.nextInt(6)))
        i += 1
      }
      sb.toString
    }
    for (t <- 0 until 200) {
      val a = mixed(150 + rnd.nextInt(150))
      val b =
        if (t % 2 == 0) mixed(200 + rnd.nextInt(120))
        else { // near-identical: few edits in a long mostly-popular string
          val base = mixed(200 + rnd.nextInt(120))
          val arr = base.toCharArray
          for (_ <- 0 to rnd.nextInt(4))
            arr(rnd.nextInt(arr.length)) = "a wxyz".charAt(rnd.nextInt(6))
          new String(arr)
        }
      val blocks = Similarity.matchingBlocks(a, b).grouped(3).map(_.toList).toSeq
      var lastA = 0; var lastB = 0; var m = 0
      for (List(pa, pb, len) <- blocks) {
        assert(len > 0 && pa >= lastA && pb >= lastB, s"order/overlap #$t")
        assert(a.substring(pa, pa + len) == b.substring(pb, pb + len),
          s"not a common substring #$t")
        lastA = pa + len; lastB = pb + len; m += len
      }
      assert(Similarity.ratio(a, b) == 2.0 * m / (a.length + b.length),
        s"ratio != 2·Σblocks/(la+lb) #$t")
    }
  }

  test("symmetry is NOT guaranteed by difflib (b-side junk) — but identical strings are 1.0") {
    assert(Similarity.ratio("same", "same") == 1.0)
  }

  test("nulls are dissimilar") {
    assert(Similarity.ratio(null, "x") == 0.0)
    assert(Similarity.ratio("x", null) == 0.0)
  }

  // ── atLeast: ratio >= t through the length and multiset bounds ──────
  test("atLeast == (ratio >= t) on every ratio and autojunk-divergence " +
      "golden, empty and surrogate pairs, at fixed thresholds and the tie") {
    val pairs = (Goldens.load("similarity") ++ Goldens.load("similarity_divergent"))
      .map(g => (Goldens.str(g("a")), Goldens.str(g("b")), Goldens.dbl(g("ratio"))))
    val extra = Seq(("", ""), ("", "x"), ("x", ""), (null, "x"), ("x", null),
      ("a\uD83D\uDE00b", "a\uD83D\uDE00c"), ("\uD83D\uDE00", "\uD83D\uDE01"))
      .map { case (a, b) => (a, b, Similarity.ratio(a, b)) }
    (pairs ++ extra).foreach { case (a, b, r) => SimilaritySpec.agrees(a, b, r) }
  }

  test("atLeast rejects on the length bound, on the multiset bound, " +
      "and on the exact ratio, each as ratio >= t does") {
    def lenBound(a: String, b: String) =
      2.0 * math.min(a.length, b.length) / (a.length + b.length)
    def setBound(a: String, b: String) = {
      val ca = a.groupBy(identity).map { case (c, s) => c -> s.length }
      val m = b.groupBy(identity).map { case (c, s) => math.min(s.length, ca.getOrElse(c, 0)) }.sum
      2.0 * m / (a.length + b.length)
    }
    // 3 vs 10 chars: only the length bound is needed
    assert(lenBound("abc", "abcdefghij") < 0.9)
    assert(!Similarity.atLeast("abc", "abcdefghij", 0.9))
    // equal lengths, one shared char: the length bound passes, the
    // multiset bound rejects
    assert(lenBound("abcd", "wxyd") == 1.0 && setBound("abcd", "wxyd") < 0.5)
    assert(!Similarity.atLeast("abcd", "wxyd", 0.5))
    // a transposition passes both bounds; only the exact ratio rejects
    assert(setBound("abcdef", "defabc") == 1.0)
    assert(!Similarity.atLeast("abcdef", "defabc", 0.9))
    assert(Similarity.atLeast("abcdef", "defabc", 0.5)) // ratio 0.5, the tie
  }
}

object SimilaritySpec {
  import org.scalatest.Assertions._

  /** `atLeast(a, b, t) == (ratio(a, b) >= t)` at 0, 0.5, 0.9 and 1, at the
    * golden ratio, and at the computed ratio and the next double above it
    * (the `>=` tie from both sides). */
  def agrees(a: String, b: String, golden: Double): Unit = {
    val r = Similarity.ratio(a, b)
    for (t <- Seq(0.0, 0.5, 0.9, 1.0, golden, r, Math.nextUp(r)))
      assert(Similarity.atLeast(a, b, t) == (r >= t),
        s"atLeast('$a','$b',$t) with ratio $r")
  }
}
