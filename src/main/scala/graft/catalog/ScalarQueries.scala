package graft
package catalog

import org.apache.spark.sql.functions._

import graft.ops.{TextOps, Enrich, CandidateGen}
import graft.expr.{functions => gf}
import graft.SparkEntry.oracleAuxDir
import Shared._

/** F-family: scalar string, regex, date, array and json functions (SURVEY §2.8). */
private[graft] object ScalarQueries {

  val queries: Seq[Query] = Seq(

    Query("f11_clean_title_for_search", { (s, dir) =>
      val title = concat(col("p_name"), lit("; part:"), col("p_brand"), lit(","))
      t(s, dir, "part").select(col("p_partkey"),
        TextOps.cleanTitleForSearch(title).as("clean_title"))
    },
      // r13: the reference strips FIRST (unicode strip) and applies NO
      // outer trim — a trailing ',' leaves a trailing space in the output
      s"""SELECT p_partkey,
         regexp_replace(trim(p_name || '; part:' || p_brand || ',',
           $oraPyStripSet), '[;:,]', ' ', 'g') AS clean_title
         FROM part"""),

    Query("f2_strip_markdown_images", { (s, dir) =>
      val md = concat(lit("!["), col("lang"), lit("]("), col("source"),
        lit(") "), col("text"))
      t(s, dir, "documents").select(col("doc_id"),
        TextOps.stripMarkdownImages(md).as("content"))
    },
      """SELECT doc_id,
         regexp_replace('![' || lang || '](' || source || ') ' || text,
           '!\[.*?\]\(.*?\)', '', 'g') AS content
         FROM documents"""),

    Query("f3_strip_marker_wrapper", { (s, dir) =>
      // marker-output artifact strip (combine_json_to_jsonl.py:110-113);
      // wrap half the rows so both branches are exercised
      val wrapped = when(col("doc_id") % 2 === 0,
        concat(lit("markdown='"), col("text"), lit("'"))).otherwise(col("text"))
      t(s, dir, "documents").select(col("doc_id"),
        TextOps.stripMarkerWrapper(wrapped).as("content"))
    },
      """WITH t AS (SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'markdown=''' || text || ''''
                ELSE text END AS x
           FROM documents)
         SELECT doc_id,
           CASE WHEN starts_with(x, 'markdown=''') AND ends_with(x, '''')
                THEN substr(x, 11, length(x) - 11) ELSE x END AS content
         FROM t"""),

    Query("f4_unescape_newlines", { (s, dir) =>
      // literal \n escapes → real newlines + trim
      // (pdf_extraction/combine_json_to_jsonl.py:52-58)
      val escaped = concat(lit("  "),
        replace(col("text"), lit(" "), lit("\\n")), lit("  "))
      t(s, dir, "documents").select(col("doc_id"),
        TextOps.unescapeNewlines(escaped).as("content"))
    },
      """SELECT doc_id,
         trim(regexp_replace('  ' || replace(text, ' ', '\n') || '  ',
           '\\n', chr(10), 'g')) AS content
         FROM documents"""),

    Query("f5_collapse_whitespace", { (s, dir) =>
      val spread = regexp_replace(col("text"), " ", "   ")
      t(s, dir, "documents").select(col("doc_id"),
        TextOps.collapseWhitespace(spread).as("content"))
    },
      """SELECT doc_id,
         regexp_replace(regexp_replace(replace(text, ' ', '   '), ' +', ' ', 'g'),
           '\n{3,}', chr(10) || chr(10), 'g') AS content
         FROM documents"""),

    Query("f6_normalize_unicode", { (s, dir) =>
      val uni = translate(col("text"), "ae", "–’")
      t(s, dir, "documents").select(col("doc_id"),
        TextOps.normalizeUnicodePunct(uni).as("content"))
    },
      """SELECT doc_id,
         translate(translate(text, 'ae', '–’'), '–—−‘’“”', '---''''""') AS content
         FROM documents"""),

    Query("f7_normalize_for_compare", { (s, dir) =>
      val punct = regexp_replace(col("p_name"), " ", "; ")
      t(s, dir, "part").select(col("p_partkey"),
        TextOps.normalizeForCompare(punct).as("norm"))
    },
      s"""SELECT p_partkey,
         regexp_replace(regexp_replace(trim(lower(replace(p_name, ' ', '; ')),
           $oraPyStripSet), '$oraPyNonWordWs', ' ', 'g'),
           '$oraPyWs+', ' ', 'g') AS norm
         FROM part"""),

    Query("f8_normalize_doi", { (s, dir) =>
      val raw = concat(lit("https://doi.org/10."),
        (lit(1000) + col("p_partkey") % 9000).cast("string"),
        lit("/Abc."), col("p_brand"))
      t(s, dir, "part").select(col("p_partkey"), TextOps.normalizeDoi(raw).as("doi"))
    },
      s"""SELECT p_partkey,
         regexp_replace(lower(trim('https://doi.org/10.' ||
           CAST(1000 + p_partkey % 9000 AS VARCHAR) || '/Abc.' || p_brand,
           $oraPyStripSet)),
           '^(https?://doi\\.org/|doi:$oraPyWs*)', '') AS doi
         FROM part"""),

    Query("f10_extract_year", { (s, dir) =>
      val citation = when(col("o_orderkey") % 11 === 0, lit("No year here."))
        .otherwise(concat(lit("Author et al. ("), year(col("o_orderdate")).cast("string"),
          lit("). Study of "), col("o_orderpriority"), lit(".")))
      t(s, dir, "orders").select(col("o_orderkey"),
        TextOps.extractYear(citation, lit("2026")).as("yr"))
    },
      s"""SELECT o_orderkey,
         COALESCE(NULLIF(regexp_extract(
           CASE WHEN o_orderkey % 11 = 0 THEN 'No year here.'
           ELSE 'Author et al. (' || CAST(year(o_orderdate) AS VARCHAR) ||
             '). Study of ' || o_orderpriority || '.' END,
           '\\((\\p{Nd}{4})\\)', 1), ''), '2026') AS yr
         FROM orders"""),

    Query("f15_format_authors", { (s, dir) =>
      val words = split(concat_ws(" ", col("p_name"), col("p_type"), col("p_brand")), " ")
      val authors = when(col("p_partkey") % 7 === 0, array().cast("array<string>"))
        .otherwise(slice(words, lit(1), (lit(1) + col("p_partkey") % 5).cast("int")))
      t(s, dir, "part").select(col("p_partkey"),
        Enrich.formatAuthors(authors).as("authors_fmt"))
    },
      """WITH t AS (SELECT p_partkey,
           CASE WHEN p_partkey % 7 = 0 THEN CAST([] AS VARCHAR[])
           ELSE list_slice(string_split(concat_ws(' ', p_name, p_type, p_brand), ' '),
             1, CAST(1 + p_partkey % 5 AS INT)) END AS a
           FROM part)
         SELECT p_partkey,
         CASE WHEN len(a) = 0 THEN 'Unknown'
              WHEN len(a) = 1 THEN a[1]
              WHEN len(a) <= 3 THEN
                array_to_string(list_slice(a, 1, len(a) - 1), ', ') || ', & ' || a[len(a)]
              ELSE a[1] || ' et al.' END AS authors_fmt
         FROM t"""),

    Query("f16_build_citation", { (s, dir) =>
      val doi = when(col("p_partkey") % 3 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("10."),
          (lit(1000) + col("p_partkey") % 9000).cast("string"), lit("/x")))
      t(s, dir, "part").select(col("p_partkey"),
        Enrich.buildCitation(lit("Doe et al."), lit("2024"), col("p_name"),
          lit("J Eng Data"), doi).as("citation"),
        Enrich.buildLink(doi, col("p_partkey").cast("string")).as("link"))
    },
      """WITH t AS (SELECT p_partkey, p_name,
           CASE WHEN p_partkey % 3 = 0 THEN NULL
           ELSE '10.' || CAST(1000 + p_partkey % 9000 AS VARCHAR) || '/x' END AS doi
           FROM part)
         SELECT p_partkey,
         'Doe et al.. (2024). ' || p_name || '. J Eng Data' ||
           CASE WHEN doi IS NOT NULL AND length(TRIM(doi)) > 0
             THEN '. https://doi.org/' || doi ELSE '' END AS citation,
         CASE WHEN doi IS NOT NULL AND length(TRIM(doi)) > 0
           THEN 'https://doi.org/' || doi
           ELSE 'https://pubmed.ncbi.nlm.nih.gov/' || CAST(p_partkey AS VARCHAR)
         END AS link
         FROM t"""),

    Query("f18_record_to_json", { (s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextOps.recordToJsonString(col("doc_id"), col("lang"), col("source"))
          .as("payload"))
    },
      """SELECT doc_id,
         to_json(struct_pack(doc_id := doc_id, lang := lang, source := source)) AS payload
         FROM documents"""),

    Query("f20_parse_json", { (s, dir) =>
      events(s, dir).select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
    },
      """SELECT event_id,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
         FROM events"""),

    Query("f13_html_extract", { (s, dir) =>
      // F13 driver-visible: each doc wrapped in a deterministic page
      // (nav junk div + <article><p>…) — the cascade must pick the
      // article region, flatten the <p>, and apply the >50-char
      // substance gate; the oracle replays the equivalent whitespace
      // collapse + gate. Custom codegen expression, not a UDF.
      val html = concat(
        lit("<html><head><title>x</title></head><body>" +
          "<div class=\"nav\">skip this</div><article><p>"),
        col("text"), lit("</p></article></body></html>"))
      t(s, dir, "documents").select(col("doc_id"),
        gf.html_text(html).as("content"))
    },
      """SELECT doc_id,
         CASE WHEN len(t) > 50 THEN t ELSE '' END AS content
         FROM (SELECT doc_id,
           trim(regexp_replace(text, '\s+', ' ', 'g')) AS t FROM documents)"""),

    Query("f19_parse_pubmed_xml", { (s, dir) =>
      // F19 driver-visible round-trip: a PubMed efetch response is
      // synthesized per customer row, parsed back through the typed
      // from_xml schema + XPath-parity projections; the oracle simply
      // re-derives the fields from the source columns — so a hash match
      // proves the parse recovered title/doi/journal/year/authors.
      val c = t(s, dir, "customer").filter(col("c_custkey") < 500)
      val xml = concat(
        lit("<PubmedArticleSet><PubmedArticle><MedlineCitation><Article>" +
          "<ArticleTitle>"), col("c_name"),
        lit("</ArticleTitle><Journal><Title>Journal of "), col("c_mktsegment"),
        lit("</Title><JournalIssue><PubDate><Year>2024</Year></PubDate>" +
          "</JournalIssue></Journal><AuthorList><Author><LastName>"),
        col("c_name"), lit("</LastName><ForeName>Prime</ForeName></Author>" +
          "</AuthorList></Article></MedlineCitation><PubmedData>" +
          "<ArticleIdList><ArticleId IdType=\"pubmed\">"),
        col("c_custkey").cast("string"),
        lit("</ArticleId><ArticleId IdType=\"doi\">10.1000/c"),
        col("c_custkey").cast("string"),
        lit("</ArticleId></ArticleIdList></PubmedData></PubmedArticle>" +
          "</PubmedArticleSet>"))
      graft.ops.PubMedXml.parseToColumns(
          c.select(col("c_custkey").as("key"), xml.as("xml")), "xml")
        .select(col("key"), col("title"), col("doi"), col("journal"),
          col("year"), array_join(col("authors"), "; ").as("authors"))
    },
      """SELECT c_custkey AS key, c_name AS title,
         '10.1000/c' || CAST(c_custkey AS VARCHAR) AS doi,
         'Journal of ' || c_mktsegment AS journal,
         '2024' AS year, c_name || ', Prime' AS authors
         FROM customer WHERE c_custkey < 500"""),

    Query("f1_clean_corpus", { (s, dir) =>
      // ORACLE-CHECKED since round 13 via the exported decision trace
      // (writeOracleAux clean_trace): the stateful per-line clean has no
      // direct SQL form, but its per-line decisions ship as data and
      // DuckDB re-proves every one against the raw lines and rebuilds
      // content — see f1TraceSql. clean() is assembled from the SAME
      // decisions() kernel the trace exports (no drift possible);
      // CPython parity of that kernel is golden-pinned (CleanCorpusSpec
      // + 250-doc fuzz).
      t(s, dir, "documents").select(col("doc_id"),
        gf.clean_corpus(col("text")).as("content"))
    },
      // the decision-trace replay for the stateful line cleaner (see
      // f1TraceSql + the writeOracleAux comment): per-line keep/drop/
      // cutoff/rescue decisions ship as data, DuckDB re-proves each one
      // against the raw lines (regex layers + the 15-line dosage lookahead
      // recomputed independently; prev-kept state refolded from the
      // trace's prior decisions — an inductive chain, so one wrong
      // decision anywhere fails its own re-check) and rebuilds content.
      f1TraceSql),

    Query("f12_similarity_scale", { (s, dir) =>
      // ORACLE-CHECKED since round 12 via the exported block trace
      // (writeOracleAux f12_blocks): difflib ratio has no direct SQL
      // form, but the block decomposition ships as data and DuckDB
      // re-verifies every block against the raw strings + recomputes
      // sim — see the oracleSql comment. The candidate layer is EXACT:
      // ratio→edit-distance lemma + measured-Lmax PassJoin radius in
      // CandidateGen.similaritySelfPairs (FuzzyJoinSpec proves equality
      // with brute-force all-pairs). The declared sim is ORIENTATION-
      // CANONICAL — ratio(min(sa,sb), max(sa,sb)): difflib's ratio is
      // weakly order-sensitive (measured: 2 of 19,902 θ=0.5 pairs flip
      // by orientation), and the distinct-string front evaluates one
      // decision per distinct pair, so the well-defined declared
      // relation is the symmetric one; the lemma and quick-ratio bound
      // are orientation-free, so exactness is untouched.
      CandidateGen.similaritySelfPairs(t(s, dir, "part"), "p_partkey",
          "p_name", theta = 0.9, blockCols = Seq("p_brand"))(
          (a, b) => gf.similarity(least(a, b), greatest(a, b)))
        .select(col("i").as("k1"), col("j").as("k2"),
          gf.similarity(least(col("str_i"), col("str_j")),
            greatest(col("str_i"), col("str_j"))).as("sim"))
    },
      // the exported-artifact replay pattern (as dedup_semantic/ann_*):
      // the trace rows are the PassJoin candidate superset with their
      // difflib block decompositions (writeOracleAux); the oracle verifies
      // every block against the raw strings — a common substring at the
      // claimed positions (substr equality), ordered and non-overlapping
      // on both sides — and recomputes sim = 2·Σlen/(la+lb) itself, so an
      // invalid or inflated trace drops the pair and the hash goes red.
      // The difflib-parity of the decomposition layer is golden-pinned
      // block by block in SimilaritySpec (72 CPython cases + invariants).
      f12TraceSql(auxF12Blocks, 0.9)),

    Query("f12_similarity_ratcliff", { (s, dir) =>
      // ORACLE-CHECKED since round 12 via its own exported block trace
      // at θ = 0.5 (writeOracleAux f12_blocks_ratcliff — the same
      // DuckDB replay as f12_similarity_scale). Round 9 wrote this as a
      // raw brand-blocked self-join with only the length-ratio conjunct
      // (which at θ = 0.5 prunes almost nothing); brand cardinality is
      // fixed, so block occupancy grew linearly with sf and candidate
      // pairs quadratically — 34× at 10× data. Same route as
      // f12_similarity_scale now: measured-Lmax PassJoin radius +
      // distinct-string front, exact by the ratio→lev lemma
      // (FuzzyJoinSpec pins equality against the brute-force self-join).
      // Orientation-canonical sim, as f12_similarity_scale.
      CandidateGen.similaritySelfPairs(t(s, dir, "part"), "p_partkey",
          "p_name", theta = 0.5, blockCols = Seq("p_brand"))(
          (a, b) => gf.similarity(least(a, b), greatest(a, b)))
        .select(col("i").as("k1"), col("j").as("k2"),
          gf.similarity(least(col("str_i"), col("str_j")),
            greatest(col("str_i"), col("str_j"))).as("sim"))
    },
      // same replay at θ = 0.5 over its own exported trace
      f12TraceSql(auxF12BlocksRatcliff, 0.5)),

    Query("f9_extract_doi", { (s, dir) =>
      // DOI extraction with bibliography veto over synthesized doc text;
      // oracle replays the match-clean-veto loop as regexp_extract_all +
      // list_filter (validated against the CPython mirror 500/500)
      val txt = concat(col("text"), lit(" see 10."),
        (lit(1000) + col("doc_id") % 9000).cast("string"), lit("/ref."), col("lang"),
        when(col("doc_id") % 4 === 0, lit(" listed in the bibliography"))
          .otherwise(lit("")))
      t(s, dir, "documents").select(col("doc_id"),
        gf.extract_doi(txt).as("doi"))
    },
      ("""WITH s AS (
           SELECT doc_id,
             substr(text || ' see 10.' || CAST(1000 + doc_id % 9000 AS VARCHAR) || '/ref.' || lang ||
               CASE WHEN doc_id % 4 = 0 THEN ' listed in the bibliography' ELSE '' END, 1, 5000) AS st
           FROM documents),
         c AS (
           SELECT doc_id, st,
             regexp_extract_all(st,
               '10\.\p{Nd}{4,}/[^""" + oraPyWsB + """\]\)>",;]+') AS cands
           FROM s),
         f AS (
           SELECT doc_id,
             list_filter(cands, cd ->
               len(regexp_replace(cd, '[.,;:\]\)>]+$', '')) >= 10 AND
               contains(regexp_replace(cd, '[.,;:\]\)>]+$', ''), '/') AND
               NOT (
                 contains(lower(substr(st, greatest(1, strpos(st, cd) - 100), 200)), 'reference') OR
                 contains(lower(substr(st, greatest(1, strpos(st, cd) - 100), 200)), 'cited') OR
                 contains(lower(substr(st, greatest(1, strpos(st, cd) - 100), 200)), 'bibliography'))) AS surv
           FROM c)
         SELECT doc_id,
           CASE WHEN len(surv) > 0 THEN regexp_replace(surv[1], '[.,;:\]\)>]+$', '') END AS doi
         FROM f"""))
  )

  private def auxF12Blocks = s"read_parquet('$oracleAuxDir/f12_blocks/*.parquet')"

  private def auxF12BlocksRatcliff =
    s"read_parquet('$oracleAuxDir/f12_blocks_ratcliff/*.parquet')"

  /** The shared f12 block-trace replay (see the f12_similarity_scale
    * oracle comment): verify each exported block as a positioned common
    * substring, check ordering/non-overlap, recompute sim, threshold. */
  private def f12TraceSql(aux: String, theta: Double): String =
    s"""WITH ord AS (
           SELECT k1, k2, pa, pb, len,
             coalesce(pa >= lag(pa + len) OVER w AND pb >= lag(pb + len) OVER w,
               TRUE) AS ord_ok
           FROM $aux
           WINDOW w AS (PARTITION BY k1, k2 ORDER BY pa)),
         chk AS (
           SELECT o.k1, o.k2, sum(o.len) AS m,
             bool_and(o.ord_ok) AS ord_ok,
             bool_and(substr(least(a.p_name, b.p_name), o.pa + 1, o.len) =
                      substr(greatest(a.p_name, b.p_name), o.pb + 1, o.len))
               AS sub_ok,
             any_value(len(a.p_name)) AS la, any_value(len(b.p_name)) AS lb
           FROM ord o
           JOIN part a ON a.p_partkey = o.k1
           JOIN part b ON b.p_partkey = o.k2
           GROUP BY o.k1, o.k2)
         SELECT k1, k2, 2.0 * m / (la + lb) AS sim
         FROM chk
         WHERE ord_ok AND sub_ok AND 2.0 * m / (la + lb) >= $theta"""

  private lazy val oraPyWsB = graft.ops.CleanCorpus.PyWsBody

  private def auxCleanTrace = s"read_parquet('$oracleAuxDir/clean_trace/*.parquet')"

  /** The f1_clean_corpus trace replay (see the writeOracleAux comment).
    *
    * Python-strip charset (pyStrip parity): 09-0D, 1C-1F, 20, 85, A0,
    * 1680, 2000-200A, 2028, 2029, 202F, 205F, 3000. Regexes mirror the
    * JVM kernel exactly, which since r13 mirrors CPython's UNICODE \s
    * and \d (CleanCorpus.PyWs — the same explicit class as the strip
    * charset — and \p{Nd}; RE2 supports both spellings).
    * Case-insensitivity: the kernel compiles CASE_INSENSITIVE|UNICODE_CASE
    * and CPython re.IGNORECASE unicode-folds on str — both sides
    * simple-casefold (ſ→s, K→k, ß fixed point), pinned by the casefold
    * goldens in CleanCorpusSpec. '.' semantics: the kernel compiles
    * UNIX_LINES so Java '.' excludes only \n, exactly CPython re and
    * RE2 — interior \r (bare-\r-endings documents) spans '.*' on all
    * three engines.
    */
  private def f1TraceSql: String = {
    val ws = "chr(9)||chr(10)||chr(11)||chr(12)||chr(13)||chr(28)||chr(29)||" +
      "chr(30)||chr(31)||chr(32)||chr(133)||chr(160)||chr(5760)||chr(8192)||" +
      "chr(8193)||chr(8194)||chr(8195)||chr(8196)||chr(8197)||chr(8198)||" +
      "chr(8199)||chr(8200)||chr(8201)||chr(8202)||chr(8232)||chr(8233)||" +
      "chr(8239)||chr(8287)||chr(12288)"
    // json_split_and_clean.py:37-59 — re.search, so the framing .* drop
    val cut = "(This review.*used.*Assessment Aid|" +
      "This review was conducted.*Assessment Aid|" +
      "This review used.*Real-Time Oncology Review|This review used.*RTOR|" +
      "This review was conducted under Project Orbis|" +
      "The application was granted.*priority review|" +
      "The application was granted.*breakthrough|" +
      "The application was granted.*orphan|granted.*priority review|" +
      "granted.*breakthrough designation|granted.*orphan drug designation|" +
      "received.*orphan drug designation|received.*breakthrough designation|" +
      "received.*priority review)"
    // json_split_and_clean.py:64-93 — re.match, so ^-anchored alternation;
    // the \s after "for" is CPython's unicode class (CleanCorpus.PyWs)
    val pws = graft.ops.CleanCorpus.PyWs
    val pnd = graft.ops.CleanCorpus.PyD
    val boiler = "^(Follow the Oncology Center of Excellence|Follow us on X|" +
      "Healthcare professionals should report all serious adverse events|" +
      s"Full prescribing information for$pws|" +
      s"View full prescribing information for$pws|" +
      s"See full prescribing information for$pws|" +
      "For assistance with single-patient INDs for investigational oncology products|" +
      "FDA expedited programs are described in the Guidance|" +
      "A description of FDA expedited programs is in the Guidance|" +
      "For information on the COVID-19 pandemic|" +
      "FDA: Coronavirus Disease 2019 \\(COVID-19\\)|" +
      "CDC: Coronavirus \\(COVID-19\\))"
    // json_split_and_clean.py:123-131 — CPython unicode \d (Nd) and \s
    val dos = s"($pnd+$pws*(kg|mg|g|mcg)|less than.*$pnd|" +
      s"greater than.*$pnd|$pnd+$pws*(or|and)$pws*" +
      s"(greater|less)|orally.*twice.*daily|orally.*once.*daily|mg.*orally)"
    s"""WITH raw AS (
           SELECT d.doc_id, g.i AS li, trim(d.parts[g.i], $ws) AS s
           FROM (SELECT doc_id, string_split(coalesce(text, ''), chr(10)) AS parts
                 FROM documents) d,
                LATERAL (SELECT unnest(generate_series(1, len(d.parts))) AS i) g),
         flag AS (
           -- sf = the (?i) match input with the Turkish dotted/dotless i
           -- (U+0130/U+0131) pre-folded to 'i': CPython re.IGNORECASE
           -- and the JVM kernel (UNICODE_CASE) both fold that pair into
           -- ASCII i, RE2 does not (measured r14: İ↔i matches on
           -- CPython/Java, not RE2; ſ→s and Kelvin-K→k fold on all
           -- three). The fold touches ONLY the regex inputs — content
           -- rebuild and the exact case-sensitive header compare still
           -- read the raw line.
           SELECT doc_id, li, s,
             s = '' AS blank,
             s <> '' AND regexp_matches(sf, '$cut', 'i') AS cutm,
             s <> '' AND regexp_matches(sf, '$boiler', 'i') AS boiler,
             s IN ('Efficacy and Safety', 'Recommended Dosage',
                   'Expedited Programs') AS hdr,
             s <> '' AND regexp_matches(sf, '$dos', 'i') AS dos,
             s LIKE '%:' AS colon_end
           FROM (SELECT *, translate(s, chr(304) || chr(305), 'ii') AS sf
                 FROM raw)),
         fw AS (
           -- 15-line dosage lookahead + nested ':'-window, recomputed
           -- from the raw lines only (json_split_and_clean.py:149-190)
           SELECT f.doc_id, f.li,
             EXISTS (SELECT 1 FROM flag l
                     WHERE l.doc_id = f.doc_id
                       AND l.li BETWEEN f.li + 1 AND f.li + 15
                       AND NOT l.blank AND l.dos)
             OR EXISTS (SELECT 1 FROM flag l JOIN flag n
                          ON n.doc_id = l.doc_id
                         AND n.li BETWEEN l.li + 1 AND l.li + 15
                        WHERE l.doc_id = f.doc_id
                          AND l.li BETWEEN f.li + 1 AND f.li + 15
                          AND NOT l.blank AND l.colon_end
                          AND NOT n.blank AND n.dos) AS fu
           FROM flag f WHERE f.cutm),
         j AS (
           SELECT f.*, t.decision, coalesce(w.fu, FALSE) AS fu,
             CASE WHEN t.decision IN ('K', 'R', 'B')
                  THEN (CASE WHEN t.decision = 'B' THEN '' ELSE f.s END)
             END AS aval
           FROM flag f
           LEFT JOIN $auxCleanTrace t
             ON t.doc_id = f.doc_id AND t.line_idx = f.li
           LEFT JOIN fw w ON w.doc_id = f.doc_id AND w.li = f.li),
         w2 AS (
           -- 'previous kept line ends with :' refolded from the trace
           SELECT *,
             coalesce(last_value(aval IGNORE NULLS) OVER
               (PARTITION BY doc_id ORDER BY li
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), '')
               LIKE '%:' AS pcolon
           FROM j),
         cidx AS (
           SELECT doc_id, min(CASE WHEN decision = 'C' THEN li END) AS ci
           FROM w2 GROUP BY doc_id),
         ver AS (
           -- every declared decision re-proved from raw-line predicates,
           -- the recomputed lookahead, and the refolded prev-kept state
           SELECT w2.doc_id,
             bool_and(CASE w2.decision
               WHEN 'K' THEN NOT blank AND NOT cutm AND NOT boiler
                 AND NOT hdr AND (c.ci IS NULL OR li < c.ci)
               WHEN 'R' THEN NOT blank AND cutm AND (fu OR pcolon)
                 AND NOT boiler AND NOT hdr AND (c.ci IS NULL OR li < c.ci)
               WHEN 'B' THEN blank AND pcolon AND (c.ci IS NULL OR li < c.ci)
               WHEN 'E' THEN blank AND NOT pcolon AND (c.ci IS NULL OR li < c.ci)
               WHEN 'P' THEN NOT blank AND (NOT cutm OR fu OR pcolon)
                 AND boiler AND (c.ci IS NULL OR li < c.ci)
               WHEN 'H' THEN NOT blank AND (NOT cutm OR fu OR pcolon)
                 AND NOT boiler AND hdr AND (c.ci IS NULL OR li < c.ci)
               WHEN 'C' THEN NOT blank AND cutm AND NOT fu AND NOT pcolon
                 AND li = c.ci
               WHEN 'T' THEN c.ci IS NOT NULL AND li > c.ci
               ELSE FALSE END) AS dec_ok,
             count(*) AS n_raw
           FROM w2 JOIN cidx c USING (doc_id) GROUP BY w2.doc_id),
         tcnt AS (
           SELECT doc_id, count(*) AS n_tr,
             count(DISTINCT line_idx) AS n_trd
           FROM $auxCleanTrace GROUP BY doc_id),
         okdoc AS (
           SELECT v.doc_id FROM ver v JOIN tcnt t USING (doc_id)
           WHERE v.dec_ok AND t.n_tr = v.n_raw AND t.n_trd = v.n_raw),
         body AS (
           SELECT doc_id,
             string_agg(CASE WHEN decision = 'B' THEN '' ELSE s END,
               chr(10) ORDER BY li) AS c
           FROM w2 WHERE decision IN ('K', 'R', 'B') GROUP BY doc_id)
       SELECT d.doc_id,
         trim(
           regexp_replace(
             regexp_replace(
               replace(replace(replace(replace(replace(replace(replace(
                 coalesce(b.c, ''),
                 chr(8211), '-'), chr(8212), '-'), chr(8722), '-'),
                 chr(8216), ''''), chr(8217), ''''),
                 chr(8220), '"'), chr(8221), '"'),
               ' +', ' ', 'g'),
             '\\n{3,}', chr(10) || chr(10), 'g'),
           $ws) AS content
       FROM documents d
       JOIN okdoc USING (doc_id)
       LEFT JOIN body b ON b.doc_id = d.doc_id"""
  }
}
