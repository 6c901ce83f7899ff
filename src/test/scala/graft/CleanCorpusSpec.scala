package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.CleanCorpus

/** Goldens generated from the reference implementation by
  * tools/gen_goldens.py (fda_rag_extraction/scripts/json_split_and_clean.py
  * run under CPython) — every rule family of FIXTURES.md B2 plus quirk
  * probes — then one line per reference pattern, its near misses, and a
  * backtracking guard. */
class CleanCorpusSpec extends AnyFunSuite {

  private val goldens = Goldens.load("clean_corpus")

  goldens.zipWithIndex.foreach { case (g, i) =>
    test(s"clean_corpus golden #$i") {
      val in = Goldens.str(g("input"))
      val expected = Goldens.str(g("expected"))
      assert(CleanCorpus.clean(in) == expected,
        s"\ninput:\n$in\nexpected:\n$expected\ngot:\n${CleanCorpus.clean(in)}")
    }
  }

  test("clean_corpus is idempotent on all goldens") {
    goldens.foreach { g =>
      val once = Goldens.str(g("expected"))
      assert(CleanCorpus.clean(once) == once, s"not idempotent on: $once")
    }
  }

  test("null and empty input") {
    assert(CleanCorpus.clean(null) == "")
    assert(CleanCorpus.clean("") == "")
  }

  // One line per reference pattern (json_split_and_clean.py:37-59 cutoff,
  // :64-93 boilerplate, :123-131 dosage), in the reference's order; each
  // triggers its own pattern (CPython re, IGNORECASE). Where one pattern
  // covers another (the bare "…Center of Excellence" prefix covers its
  // three "on X"/"on Twitter" variants, "…in the Guidance" covers
  // "…Guidance for Industry", "granted.*priority review" covers "The
  // application was granted.*priority review") the covered line matches
  // both, which is what makes one alternation per class equivalent.
  private val cutoffLines = Seq(
    "This review used the Assessment Aid.",
    "This review was conducted with the Assessment Aid.",
    "This review used the Real-Time Oncology Review pilot program.",
    "This review used RTOR.",
    "This review was conducted under Project Orbis.",
    "The application was granted priority review.",
    "The application was granted breakthrough status.",
    "The application was granted orphan status.",
    "Drug X was granted priority review.",
    "Drug X was granted breakthrough designation.",
    "Drug X was granted orphan drug designation.",
    "Drug X received orphan drug designation.",
    "Drug X received breakthrough designation.",
    "Drug X received priority review.")

  private val boilerplateLines = Seq(
    "Follow the Oncology Center of Excellence for updates.",
    "Follow the Oncology Center of Excellence on X @FDAOncology",
    "Follow the Oncology Center of Excellence on X (formerly Twitter) @FDAOncology",
    "Follow the Oncology Center of Excellence on Twitter @FDAOncology",
    "Follow us on X @US_FDA",
    "Healthcare professionals should report all serious adverse events " +
      "suspected to be associated with the use of any medicine.",
    "Full prescribing information for Drugx will be posted here.",
    "View full prescribing information for Drugx.",
    "See full prescribing information for Drugx.",
    "For assistance with single-patient INDs for investigational oncology " +
      "products, contact OCE.",
    "FDA expedited programs are described in the Guidance for Industry: " +
      "Expedited Programs for Serious Conditions.",
    "A description of FDA expedited programs is in the Guidance for Industry.",
    "FDA expedited programs are described in the Guidance.",
    "For information on the COVID-19 pandemic, see the FDA page.",
    "FDA: Coronavirus Disease 2019 (COVID-19) resources.",
    "CDC: Coronavirus (COVID-19) resources.")

  private val dosageLines = Seq(
    "Take 5 mcg each morning.",
    "Use less than 3 tablets.",
    "Use greater than 3 tablets.",
    "Patients aged 18 or greater.",
    "Take it orally twice daily.",
    "Take it orally once daily.",
    "The mg amount is taken orally.")

  private def codes(lines: String*): String =
    CleanCorpus.decisions(lines.toArray).mkString

  private val filler = "Filler sentence."

  test("every cutoff pattern truncates: C, then T") {
    cutoffLines.foreach { l =>
      assert(codes("Intro.", l, "After.") == "KCT", l)
    }
  }

  dosageLines.zipWithIndex.foreach { case (d, k) =>
    test(s"dosage pattern #$k rescues every cutoff line from 1 and 15 " +
        s"lines ahead: R") {
      cutoffLines.foreach { l =>
        assert(codes(l, d) == "RK", s"$l / $d")
        val far = Seq(l) ++ Seq.fill(14)(filler) :+ d
        assert(codes(far: _*) == "R" + "K" * 15, s"$l / $d at +15")
      }
    }
  }

  test("dosage 16 lines ahead does not rescue: C") {
    dosageLines.foreach { d =>
      val tooFar = Seq(cutoffLines.head) ++ Seq.fill(15)(filler) :+ d
      assert(codes(tooFar: _*) == "C" + "T" * 16, d)
    }
  }

  test("every boilerplate pattern drops a line it starts: P") {
    boilerplateLines.foreach { l =>
      assert(codes("Intro.", l, "After.") == "KPK", l)
    }
    // the \s after "for" is CPython's unicode class: NBSP counts
    assert(codes("See full prescribing information for\u00A0Drugx.") == "P")
  }

  test("near misses are kept: K") {
    boilerplateLines.foreach { l =>
      assert(codes("Also, " + l) == "K", s"not at line start: $l")
    }
    Seq("Drug X was granted accelerated approval.",
      "The application was granted.",
      "Priority review was granted.",
      "This review was conducted by the team.",
      "Drug X received orphan status.",
      "Full prescribing information for",
      "Take 5 tablets.").foreach { l =>
      assert(codes(l) == "K", l)
    }
  }

  test("a long line of trigger words that matches no pattern cleans " +
      "in under 1 s") {
    // "This review", "granted", "received", "orally" and digits each
    // start some pattern, but no line here completes one; a pattern
    // framed as .*A.*B.* backtracks roughly cubically over such a line
    val unit = "This review 42 granted 7 received 19 orally 2024 "
    val line = (unit * (3500 / unit.length + 1)).take(3500)
    CleanCorpus.clean(unit * 10) // load and warm the class
    val t0 = System.nanoTime
    val out = CleanCorpus.clean(line)
    val secs = (System.nanoTime - t0) / 1e9
    assert(out == line.trim)
    assert(secs < 1.0, f"clean took $secs%.2f s on ${line.length} chars")
  }
}
