package graft.ops

/** F12 — Ratcliff/Obershelp similarity with CPython `difflib` parity
  * (SURVEY.md §2.8 F12, §7.4 #2).
  *
  * The reference's verify decision hinges on
  * `SequenceMatcher(None, a, b).ratio() >= 0.90`
  * (pdf_extraction/pubmed_enrichment.py:291-293), so this reproduces
  * difflib exactly: the b2j index, the *autojunk* rule (elements occurring
  * in more than 1% of `b` are dropped from the b2j index when |b| >= 200 —
  * but, because `isjunk=None` leaves CPython's `bjunk` set empty, they are
  * NOT junk to the match-extension loops, which pass through them freely),
  * the longest-matching-block search, and the recursive block accumulation.
  * Tie-breaking is preserved by scanning i ascending and, within each i,
  * the b-positions ascending — the same order difflib's dict/list walk
  * produces.
  *
  * ZERO-ALLOCATION steady state: this runs tens of millions of times per
  * pair-join stage across 32 executor threads, and the host's allocation
  * bandwidth saturates long before its ALU does (measured: a HashMap-based
  * version ran at 0.33 M calls/s TOTAL regardless of thread count — pure
  * GC wall). All working state lives in per-thread reusable buffers
  * (char-indexed position tables, dense diagonal-run arrays, an int-array
  * block stack), cleared incrementally via touched-lists.
  *
  * A threshold test (a theta-join's `ratio >= t`) goes through [[atLeast]],
  * which first tries difflib's two exact upper bounds, length and
  * character multiset, and runs the search only when both can reach `t`.
  */
object Similarity {

  private final class Scratch {
    val count = new Array[Int](65536)      // char -> #positions in b
    val start = new Array[Int](65536)      // char -> offset into bpos
    val junk = new Array[Boolean](65536)   // autojunk (popular) chars
    var touched = new Array[Char](256)     // chars used by the last call
    var nTouched = 0
    var bpos = new Array[Int](256)         // ascending positions, grouped by char
    var prev = new Array[Int](257)         // diagonal-run tables (size lb+1)
    var cur = new Array[Int](257)
    var stack = new Array[Int](1024)       // (alo,ahi,blo,bhi) block stack

    def clear(): Unit = {
      var t = 0
      while (t < nTouched) {
        val c = touched(t)
        count(c) = 0; start(c) = 0; junk(c) = false
        t += 1
      }
      nTouched = 0
    }
    def touch(c: Char): Unit = {
      if (nTouched == touched.length) {
        touched = java.util.Arrays.copyOf(touched, nTouched * 2)
      }
      touched(nTouched) = c
      nTouched += 1
    }
    /** Clear, then count each char of `b` into `count`. */
    def countChars(b: String): Unit = {
      clear()
      var j = 0
      while (j < b.length) {
        val c = b.charAt(j)
        if (count(c) == 0) touch(c)
        count(c) += 1
        j += 1
      }
    }
  }

  private val scratchTL: ThreadLocal[Scratch] =
    ThreadLocal.withInitial(() => new Scratch)

  /** CPython difflib operates on CODE POINTS; the hot kernel below on
    * UTF-16 code units. Identical for BMP text (every bench corpus),
    * divergent when a supplementary-plane char appears: lengths,
    * autojunk's |b| >= 200 threshold and block indices all shift, and a
    * surrogate PAIR can half-match where Python sees one unequal
    * element. Rather than tax the zero-allocation path with codepoint
    * decoding, strings containing any surrogate are routed to the
    * allocation-based codepoint kernel (r14; FuzzGoldenSpec pins
    * supplementary-plane pairs against difflib). */
  private def hasSurrogate(s: String): Boolean = {
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c >= 0xD800 && c < 0xE000) return true
      i += 1
    }
    false
  }

  /** `difflib.SequenceMatcher(None, a, b).ratio()`. */
  def ratio(a: String, b: String): Double = {
    if (a == null || b == null) return 0.0
    if (hasSurrogate(a) || hasSurrogate(b)) {
      val aa = a.codePoints().toArray
      val bb = b.codePoints().toArray
      if (aa.length + bb.length == 0) return 1.0
      if (aa.length == 0 || bb.length == 0) return 0.0
      var m = 0
      rawBlocksCp(aa, bb).foreach(t => m += t._3)
      return 2.0 * m / (aa.length + bb.length)
    }
    bmpRatio(a, b)
  }

  /** `ratio(a, b) >= t`, through difflib's own pruning cascade
    * (`get_close_matches`: `real_quick_ratio`, then `quick_ratio`, then
    * `ratio`), so most pairs of a threshold join never reach the
    * Ratcliff/Obershelp search:
    *  1. length bound `2·min(la,lb)/(la+lb)`;
    *  2. multiset bound `2·m/(la+lb)`, m = Σ_c min(#c in a, #c in b),
    *     counted in the per-thread [[Scratch]] tables (no allocation);
    *  3. the exact [[ratio]].
    * Both bounds are exact upper bounds on the ratio: every matched
    * character pairs one position of `a` with one of `b` holding the same
    * char, each position at most once, so matches <= m <= min(la,lb).
    * Autojunk changes which blocks are found, never that a matched pair
    * holds equal chars, so the bounds hold in that regime too (difflib's
    * `quick_ratio` counts the full `b`, not b2j). Each bound is evaluated with
    * the kernel's own `2.0 * n / (la + lb)` expression, monotone in n, so a
    * pair whose ratio equals `t` exactly is never rejected (the `>=` tie
    * holds). Surrogate-bearing strings go straight to [[ratio]], whose
    * lengths count code points; `la + lb == 0` keeps its 1.0. */
  def atLeast(a: String, b: String, t: Double): Boolean = {
    if (a == null || b == null || hasSurrogate(a) || hasSurrogate(b))
      return ratio(a, b) >= t
    val la = a.length
    val lb = b.length
    if (la + lb == 0) return 1.0 >= t
    if (2.0 * math.min(la, lb) / (la + lb) < t) return false
    val sc = scratchTL.get()
    sc.countChars(b)
    var m = 0
    var i = 0
    while (i < la) {
      val c = a.charAt(i)
      if (sc.count(c) > 0) { sc.count(c) -= 1; m += 1 }
      i += 1
    }
    if (2.0 * m / (la + lb) < t) return false
    bmpRatio(a, b) >= t
  }

  /** [[ratio]] for two non-null strings without surrogates. */
  private def bmpRatio(a: String, b: String): Double = {
    val la = a.length
    val lb = b.length
    if (la + lb == 0) return 1.0
    if (la == 0 || lb == 0) return 0.0

    val sc = scratchTL.get()
    // ── b2j: positions of each char of b, ascending (difflib __chain_b) ──
    sc.countChars(b)
    // autojunk: popular chars dropped from the index but flagged junk
    if (lb >= 200) {
      val ntest = lb / 100 + 1
      var t = 0
      while (t < sc.nTouched) {
        val c = sc.touched(t)
        if (sc.count(c) > ntest) { sc.junk(c) = true; sc.count(c) = 0 }
        t += 1
      }
    }
    // offsets by first-occurrence order; then fill ascending positions
    if (sc.bpos.length < lb) sc.bpos = new Array[Int](math.max(lb, sc.bpos.length * 2))
    locally {
      var off = 0
      var t = 0
      while (t < sc.nTouched) {
        val c = sc.touched(t)
        sc.start(c) = off
        off += sc.count(c)
        sc.count(c) = 0 // reuse as fill cursor; restored below
        t += 1
      }
      var k = 0
      while (k < lb) {
        val c = b.charAt(k)
        if (!sc.junk(c)) { // junk chars keep an empty span (deleted from b2j)
          sc.bpos(sc.start(c) + sc.count(c)) = k
          sc.count(c) += 1
        }
        k += 1
      }
    }

    if (sc.prev.length < lb + 1) {
      val n = math.max(lb + 1, sc.prev.length * 2)
      sc.prev = new Array[Int](n)
      sc.cur = new Array[Int](n)
    }
    var prev = sc.prev
    var cur = sc.cur

    // packed result of longestMatch: besti, bestj, bestsize
    var rI = 0; var rJ = 0; var rK = 0

    def longestMatch(alo: Int, ahi: Int, blo: Int, bhi: Int): Unit = {
      var besti = alo
      var bestj = blo
      var bestsize = 0
      java.util.Arrays.fill(prev, 0, lb + 1, 0)
      var i = alo
      while (i < ahi) {
        java.util.Arrays.fill(cur, 0, lb + 1, 0)
        val c = a.charAt(i)
        val n = sc.count(c)
        if (n > 0) {
          val s0 = sc.start(c)
          var p = 0
          var stop = false
          while (p < n && !stop) {
            val jj = sc.bpos(s0 + p)
            if (jj >= bhi) stop = true
            else if (jj >= blo) {
              val k = (if (jj > 0) prev(jj - 1) else 0) + 1
              cur(jj) = k
              if (k > bestsize) { besti = i - k + 1; bestj = jj - k + 1; bestsize = k }
            }
            p += 1
          }
        }
        val t = prev; prev = cur; cur = t
        i += 1
      }
      // extension: with isjunk=None (the reference's only call shape,
      // pubmed_enrichment.py:291) CPython's bjunk set is EMPTY — autojunk
      // 'popular' chars are removed from the b2j index only, and the
      // extension loops pass freely through them. The junk-gated second
      // pass of difflib's find_longest_match never fires, so extensions
      // reduce to plain char equality.
      while (besti > alo && bestj > blo &&
        a.charAt(besti - 1) == b.charAt(bestj - 1)) {
        besti -= 1; bestj -= 1; bestsize += 1
      }
      while (besti + bestsize < ahi && bestj + bestsize < bhi &&
        a.charAt(besti + bestsize) == b.charAt(bestj + bestsize)) {
        bestsize += 1
      }
      rI = besti; rJ = bestj; rK = bestsize
    }

    // iterative get_matching_blocks, summing block sizes
    var matches = 0
    var sp = 0
    @inline def push(w: Int, x: Int, y: Int, z: Int): Unit = {
      if (sp + 4 > sc.stack.length)
        sc.stack = java.util.Arrays.copyOf(sc.stack, sc.stack.length * 2)
      sc.stack(sp) = w; sc.stack(sp + 1) = x
      sc.stack(sp + 2) = y; sc.stack(sp + 3) = z
      sp += 4
    }
    push(0, la, 0, lb)
    while (sp > 0) {
      sp -= 4
      val alo = sc.stack(sp); val ahi = sc.stack(sp + 1)
      val blo = sc.stack(sp + 2); val bhi = sc.stack(sp + 3)
      longestMatch(alo, ahi, blo, bhi)
      if (rK > 0) {
        matches += rK
        if (alo < rI && blo < rJ) push(alo, rI, blo, rJ)
        if (rI + rK < ahi && rJ + rK < bhi) push(rI + rK, ahi, rJ + rK, bhi)
      }
    }
    sc.prev = prev
    sc.cur = cur
    2.0 * matches / (la + lb)
  }

  /** `difflib.SequenceMatcher(None, a, b).get_matching_blocks()` minus
    * the terminal (la, lb, 0) sentinel, flattened as
    * (posA, posB, size)* triples sorted by posA — the REPLAY TRACE the
    * f12 oracle verifies in SQL: each triple must be a real common
    * substring at the claimed positions, triples must be ordered and
    * non-overlapping on both sides, and 2·Σsize/(la+lb) must equal
    * [[ratio]] (golden-pinned against CPython block by block, and
    * fuzz-pinned sum == ratio numerator in SimilaritySpec).
    *
    * Gate-tooling path, not the pair-join hot kernel: plain
    * allocations, same algorithm — the b2j index with the autojunk
    * rule (index-only; `isjunk=None` ⇒ extensions ignore it), the
    * longest-match search with difflib's tie-breaks and extension
    * order, recursive block accumulation, and difflib's second pass
    * merging blocks adjacent on both sides. */
  def matchingBlocks(a: String, b: String): Array[Int] = {
    if (a == null || b == null) return Array.empty
    // code points, not UTF-16 units: difflib (and the DuckDB replay
    // oracle, whose string ops are codepoint-based) index by code
    // point; for BMP-only text the arrays equal the char sequence, so
    // the pre-r14 behavior — pinned by the full matching_blocks golden
    // corpus — is unchanged
    val aa = a.codePoints().toArray
    val bb = b.codePoints().toArray
    if (aa.length == 0 || bb.length == 0) return Array.empty
    val raw = rawBlocksCp(aa, bb)
    // difflib's second pass: merge blocks adjacent on BOTH sides
    val sorted = raw.sortBy(_._1)
    val merged = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int)]
    for (blk <- sorted) {
      if (merged.nonEmpty && merged.last._1 + merged.last._3 == blk._1 &&
          merged.last._2 + merged.last._3 == blk._2) {
        val l = merged.remove(merged.length - 1)
        merged += ((l._1, l._2, l._3 + blk._3))
      } else merged += blk
    }
    merged.flatMap(t => Seq(t._1, t._2, t._3)).toArray
  }

  /** The difflib recursion over codepoint arrays — the allocation-based
    * generic kernel behind [[matchingBlocks]] and [[ratio]]'s
    * supplementary-plane path. Returns UNMERGED raw blocks in discovery
    * order (callers sort/merge as difflib's get_matching_blocks does;
    * ratio only needs Σsize, which merging preserves). */
  private def rawBlocksCp(a: Array[Int], b: Array[Int])
      : scala.collection.mutable.ArrayBuffer[(Int, Int, Int)] = {
    val la = a.length
    val lb = b.length
    // b2j: ascending positions per element; autojunk drops popular
    // elements from the index but they stay NON-junk to the extension
    // loops (isjunk=None ⇒ CPython bjunk is empty)
    val count = new java.util.HashMap[Integer, Integer]()
    var j = 0
    while (j < lb) {
      count.merge(b(j), 1, (x, y) => x + y); j += 1
    }
    val junk = new java.util.HashSet[Integer]()
    if (lb >= 200) {
      val ntest = lb / 100 + 1
      count.forEach((c, n) => if (n > ntest) { junk.add(c); () })
    }
    val b2j = new java.util.HashMap[Integer, java.util.ArrayList[Integer]]()
    j = 0
    while (j < lb) {
      val c = b(j)
      if (!junk.contains(c))
        b2j.computeIfAbsent(c, _ => new java.util.ArrayList[Integer]()).add(j)
      j += 1
    }

    var prev = new Array[Int](lb + 1)
    var cur = new Array[Int](lb + 1)
    var rI = 0; var rJ = 0; var rK = 0
    def longestMatch(alo: Int, ahi: Int, blo: Int, bhi: Int): Unit = {
      var besti = alo; var bestj = blo; var bestsize = 0
      java.util.Arrays.fill(prev, 0, lb + 1, 0)
      var i = alo
      while (i < ahi) {
        java.util.Arrays.fill(cur, 0, lb + 1, 0)
        val ps = b2j.get(a(i))
        if (ps != null) {
          var p = 0
          var stop = false
          while (p < ps.size() && !stop) {
            val jj = ps.get(p).intValue()
            if (jj >= bhi) stop = true
            else if (jj >= blo) {
              val k = (if (jj > 0) prev(jj - 1) else 0) + 1
              cur(jj) = k
              if (k > bestsize) { besti = i - k + 1; bestj = jj - k + 1; bestsize = k }
            }
            p += 1
          }
        }
        val t = prev; prev = cur; cur = t
        i += 1
      }
      // isjunk=None → CPython bjunk is empty: extensions ignore autojunk
      // (popular elements are only absent from b2j; see ratio() above)
      while (besti > alo && bestj > blo && a(besti - 1) == b(bestj - 1)) {
        besti -= 1; bestj -= 1; bestsize += 1
      }
      while (besti + bestsize < ahi && bestj + bestsize < bhi &&
        a(besti + bestsize) == b(bestj + bestsize)) {
        bestsize += 1
      }
      rI = besti; rJ = bestj; rK = bestsize
    }

    val raw = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int)]
    val stack = scala.collection.mutable.ArrayBuffer((0, la, 0, lb))
    while (stack.nonEmpty) {
      val (alo, ahi, blo, bhi) = stack.remove(stack.length - 1)
      longestMatch(alo, ahi, blo, bhi)
      if (rK > 0) {
        raw += ((rI, rJ, rK))
        if (alo < rI && blo < rJ) stack += ((alo, rI, blo, rJ))
        if (rI + rK < ahi && rJ + rK < bhi) stack += ((rI + rK, ahi, rJ + rK, bhi))
      }
    }
    raw
  }
}
