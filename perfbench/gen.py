"""Seeded input generators for the three workloads.

Every generator takes a directory and a seed, writes the workload's inputs
there, and returns a manifest: the outcome each input is planted to produce,
which the output checks (check.py) compare against. The same seed gives
byte-identical inputs. The knobs and their defaults are listed in KNOBS and
documented in README.md.
"""
import hashlib
import json
import os

import numpy as np

# Where a default comes from. Only the paragraph-length range and the shapes
# (a re-landed listing, a length gate, five enrichment outcomes) follow a
# source; every count and share marked "assumed" is an unverified guess,
# chosen so that one round of a workload runs in about 10-20 s on 4 cores
# and every planted branch is hit in every round. README.md has the table.
KNOBS = {
    # fda_daily
    "fda_backlog_pages": 24,      # assumed: pages landed by tick 0
    "fda_listing_page": 6,        # assumed: records per landed listing file
    "fda_short_share": 0.10,      # assumed: pages too short to pass the corpus gate
    "fda_new_per_tick": 2,        # assumed: new pages on each later tick
    "fda_edits_per_tick": 2,      # assumed: edited pages on each later tick
    "fda_ticks": 3,               # assumed: ticks in a round, the backlog and daily ones
    "fda_line_min": 100,          # paragraph length: min + (max - min) * Beta(2, 3),
    "fda_line_max": 700,          # stratified: a page's paragraphs sit one per quantile band
    "fda_paragraphs": 2,          # assumed: efficacy paragraphs per page
    # pdf_enrich
    "pdf_batches": 4,             # assumed: batches in a round
    "pdf_files_per_batch": 30,    # assumed
    "pdf_dim_rows": 1500,         # assumed: PubMed dimension rows
    # corpus_queries (assumed sizes; the schemas are the engine's test tables')
    "corpus_docs": 200,
    "corpus_vectors": 200,
    "corpus_customers": 400,
    "corpus_orders": 4000,
    "corpus_lineitems": 16000,
    "corpus_suppliers": 30,
}

# ---------------------------------------------------------------- fda_daily

# Content words carry none of the clean_corpus cutoff/boilerplate triggers
# ("granted", "received", "review", "Follow", ...), so a content line is only
# ever dropped by the planted structure, never by accident.
_FDA_WORDS = (
    "patients treatment response median months overall survival progression "
    "free rate confidence interval hazard ratio trial randomized arm placebo "
    "adverse reactions common included fatigue nausea diarrhea rash anemia "
    "efficacy evaluated population cohort prior therapy metastatic advanced "
    "tumor solid lymphoma leukemia carcinoma expression positive negative "
    "mutation assay companion diagnostic endpoint primary secondary duration "
    "complete partial observed investigator assessed blinded independent "
    "laboratory abnormalities serum creatinine hepatic function monitoring "
    "discontinuation interruption reduction toxicity infusion related"
).split()
_DRUGS = ("zanubrutinib olaparib tucatinib sotorasib lutetium capmatinib "
          "selpercatinib pralsetinib tepotinib amivantamab dostarlimab "
          "trastuzumab enfortumab sacituzumab belzutifan mobocertinib").split()
_BOILERPLATE = [
    "Follow the Oncology Center of Excellence on X (formerly Twitter) @FDAOncology.",
    "Healthcare professionals should report all serious adverse events suspected "
    "to be associated with the use of any medicine and device to FDA's MedWatch "
    "Reporting System or by calling 1-800-FDA-1088.",
    "For assistance with single-patient INDs for investigational oncology "
    "products, healthcare professionals may contact OCE's Project Facilitate.",
]
_HEADERS = ["Efficacy and Safety", "Recommended Dosage", "Expedited Programs"]
_CUTOFFS = [
    "This review used the Assessment Aid, a voluntary submission from the "
    "applicant to facilitate the FDA's assessment.",
    "This review used the Real-Time Oncology Review (RTOR) pilot program, which "
    "streamlined data submission prior to the filing of the entire application.",
    "The application was granted priority review and breakthrough designation.",
]


def _sentence_line(rng, length):
    """One paragraph line of about `length` chars of content words."""
    out, n = [], 0
    while n < length:
        k = int(rng.integers(6, 14))
        s = " ".join(rng.choice(_FDA_WORDS, size=k))
        s = s[0].upper() + s[1:] + "."
        out.append(s)
        n += len(s) + 1
    return " ".join(out)[:length].rstrip() + "."


def _para_lens(rng, k, n):
    """n paragraph lengths, one from each of n equal-probability bands of
    min + (max - min) * Beta(2, 3), in random order. Stratifying keeps a
    page's clean_corpus cost (super-linear in line length) close to the
    distribution's mean, so seeds change content, not cost."""
    lo, hi = k["fda_line_min"], k["fda_line_max"]
    u = (np.arange(n) + rng.random(n)) / n
    # invert the Beta(2, 3) CDF 6x^2 - 8x^3 + 3x^4 by bisection
    a, b = np.zeros(n), np.ones(n)
    for _ in range(40):
        m = (a + b) / 2
        below = 6 * m**2 - 8 * m**3 + 3 * m**4 < u
        a, b = np.where(below, m, a), np.where(below, b, m)
    return [int(lo + (hi - lo) * x) for x in rng.permutation(a)]


def _fda_long_text(rng, k, drug, pid):
    dose = int(rng.integers(20, 400))
    n = k["fda_paragraphs"]
    lens = _para_lens(rng, k, n + 2)
    lines = [f"The Food and Drug Administration approved {drug} for adult patients "
             f"with advanced disease. " + _sentence_line(rng, lens[0]), "",
             _HEADERS[0]]
    for i in range(n):
        lines += [_sentence_line(rng, lens[1 + i]), ""]
    lines += [_HEADERS[1],
              f"The recommended {drug} dose is {dose} mg orally once daily until "
              f"disease progression or unacceptable toxicity.", ""]
    lines += list(rng.choice(_BOILERPLATE, size=2, replace=False))
    # the page's ending follows its id (5 in 10 cut off, 2 rescued, 3 plain):
    # the three endings cost clean_corpus differently, and a fixed mix keeps
    # every listing file's cost the same from seed to seed
    tail, last = (pid % 10) / 10, _sentence_line(rng, lens[-1])
    if tail < 0.5:
        # cutoff: the line and everything after it are dropped
        lines += [_HEADERS[2], str(rng.choice(_CUTOFFS)), last]
    elif tail < 0.7:
        # cutoff rescued by dosage information within the lookahead
        lines += [str(rng.choice(_CUTOFFS)),
                  f"Patients received {dose} mg orally twice daily in the extension.", last]
    else:
        lines += [last]
    return "\n".join(lines)


def _fda_short_text(rng, drug):
    # cleans to nothing: headers and boilerplate only, or a leading cutoff
    if rng.random() < 0.5:
        return "\n".join([_HEADERS[0], f"View full prescribing information for {drug}.",
                          str(rng.choice(_BOILERPLATE))])
    return "\n".join([str(rng.choice(_CUTOFFS)),
                      _sentence_line(rng, int(rng.integers(100, 200)))])


def _fda_page(rng, k, pid, short):
    drug = str(rng.choice(_DRUGS))
    month, day = int(rng.integers(1, 13)), int(rng.integers(1, 29))
    return {
        "url": f"https://www.fda.gov/drugs/resources-information-approved-drugs/"
               f"fda-approves-{drug}-{pid:06d}",
        "title": f"FDA approves {drug} for advanced disease ({pid})",
        "description": f"On 2024-{month:02d}-{day:02d} the FDA approved {drug}.",
        "date": f"2024-{month:02d}-{day:02d}",
        "text": _fda_short_text(rng, drug) if short else _fda_long_text(rng, k, drug, pid),
    }


def rag_id(url):
    """The id the engine derives for a page: md5 of its id base (the url)."""
    return hashlib.md5(url.strip().encode("utf-8")).hexdigest()


def gen_fda(out, seed, k=KNOBS):
    """Tick t's listing lands in out/ticks/tick=<t>/listing-<page>.json
    (JSONL, `fda_listing_page` records per file, as a paginated listing).

    Tick 0 is the backlog. Every later tick re-lands the whole listing plus
    `fda_new_per_tick` new pages and `fda_edits_per_tick` edited pages: an
    edit of a quarantined page makes it long enough to publish, an edit of a
    published page changes its text but not its id, so it stays a no-op.
    """
    rng = np.random.default_rng([seed, 1])
    pages, long_ids = {}, set()
    next_id = 0

    def add(short):
        nonlocal next_id
        p = _fda_page(rng, k, next_id, short)
        pages[next_id] = p
        if not short:
            long_ids.add(next_id)
        next_id += 1

    # short pages are spread one per listing file, from the first file on
    n0, size = k["fda_backlog_pages"], k["fda_listing_page"]
    n_short = int(round(n0 * k["fda_short_share"]))
    short_at = {j * size + int(rng.integers(size)) for j in range(n_short)}
    for i in range(n0):
        add(i in short_at)
    ticks = []
    for t in range(k["fda_ticks"]):
        if t > 0:
            for _ in range(k["fda_new_per_tick"]):
                add(False)
            for e in range(k["fda_edits_per_tick"]):
                quarantined = sorted(set(pages) - long_ids)
                pick = quarantined if (e == 0 and quarantined) else sorted(long_ids)
                pid = int(rng.choice(pick))
                p = dict(pages[pid])
                p["text"] = _fda_long_text(rng, k, str(rng.choice(_DRUGS)), pid)
                pages[pid] = p
                long_ids.add(pid)
        d = os.path.join(out, "ticks", f"tick={t:05d}")
        os.makedirs(d)
        ids = sorted(pages)
        size = k["fda_listing_page"]
        for j in range(0, len(ids), size):
            with open(os.path.join(d, f"listing-{j // size:04d}.json"), "w") as f:
                for pid in ids[j:j + size]:
                    f.write(json.dumps(pages[pid]) + "\n")
        ticks.append({"ids": {rag_id(pages[p]["url"]): p in long_ids for p in pages}})
    return {"workload": "fda_daily", "ticks": ticks}


# --------------------------------------------------------------- pdf_enrich

_SCI_WORDS = (
    "protein expression signaling pathway kinase inhibitor receptor binding "
    "cellular response tissue model mouse human clinical cohort analysis "
    "genomic sequencing variant mutation tumor immune regulation metabolic "
    "mitochondrial synthesis membrane transport structural dynamics imaging "
    "resolution assay quantitative marker survival outcome therapy dose "
    "resistance mechanism activation cascade stress oxidative inflammation "
    "neuronal cortical synaptic plasticity memory learning behavior network"
).split()
_JOURNALS = ["Nature", "Cell", "Science", "Lancet Oncol", "J Clin Oncol",
             "Nat Med", "PLoS One", "Sci Rep", "Blood", "Cancer Res"]
_SURNAMES = ["Smith", "Chen", "Garcia", "Muller", "Rossi", "Tanaka", "Kim",
             "Novak", "Silva", "Haddad", "Okafor", "Larsen"]
OUTCOMES = ("doi_hit", "title_hit", "doi_conflict", "bib_only_doi", "miss")
# Assumed shares, not measured: the reference does not record how often a
# PDF prints its DOI. Every outcome but a DOI hit takes the similarity title
# join, so 0.65 of each batch does; the join is the cost this workload is
# there to measure. Each share is at least 3 files of 30, so every batch
# checks every branch.
_OUTCOME_SHARE = (0.35, 0.25, 0.10, 0.10, 0.20)
PUBMED_LINK = "https://pubmed.ncbi.nlm.nih.gov"


def _title(rng):
    w = rng.choice(_SCI_WORDS, size=int(rng.integers(8, 13)), replace=False)
    return " ".join(x.capitalize() if i % 2 == 0 else x for i, x in enumerate(w))


def _perturb(rng, title):
    """Case, punctuation and one-letter changes that keep difflib >= 0.9."""
    words = title.split()
    i = int(rng.integers(len(words)))
    w = words[i]
    if len(w) > 4:
        j = int(rng.integers(1, len(w) - 1))
        words[i] = w[:j] + w[j + 1:]  # drop one letter
    return " ".join(words).upper() if rng.random() < 0.5 else " ".join(words) + "."


def _body(rng, n_par):
    pars = []
    for _ in range(n_par):
        pars.append(" ".join(rng.choice(_SCI_WORDS, size=int(rng.integers(40, 90)))) + ".")
    return "\n\n".join(pars)


def gen_pdf(out, seed, k=KNOBS):
    """out/pubmed.parquet (the dimension) + out/batches/batch=<b>/<name>.pdf."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 2])
    m = k["pdf_dim_rows"]
    dim = {"doi": [], "title": [], "journal": [], "year": [], "authors": [], "pmid": []}
    for i in range(m):
        dim["doi"].append(None if rng.random() < 0.1 else
                          f"10.{1000 + int(rng.integers(9000))}/j.{i:06d}")
        dim["title"].append(_title(rng))
        dim["journal"].append(str(rng.choice(_JOURNALS)))
        dim["year"].append(str(int(rng.integers(2005, 2025))))
        dim["authors"].append([f"{s}, {chr(65 + int(rng.integers(26)))}" for s in
                               rng.choice(_SURNAMES, size=int(rng.integers(1, 6)))])
        dim["pmid"].append(str(30000000 + i))
    pq.write_table(pa.table(dim), os.path.join(out, "pubmed.parquet"))
    with_doi = [i for i in range(m) if dim["doi"][i] is not None]

    batches = []
    for b in range(k["pdf_batches"]):
        d = os.path.join(out, "batches", f"batch={b:03d}")
        os.makedirs(d)
        files = {}
        # every batch plants the same outcome counts, in a seeded order, so
        # batches cost the same: the title join's size follows the outcomes
        n = k["pdf_files_per_batch"]
        counts = [int(round(n * x)) for x in _OUTCOME_SHARE]
        counts[-1] = n - sum(counts[:-1])
        plan = rng.permutation([o for o, c in zip(OUTCOMES, counts) for _ in range(c)])
        for f, outcome in enumerate(plan):
            name = f"doc_{b:03d}_{f:04d}.pdf"
            outcome = str(outcome)
            row = int(rng.choice(with_doi))
            doi = dim["doi"][row]
            head, body = _title(rng), _body(rng, int(rng.integers(3, 7)))
            if outcome == "doi_hit":
                spelled = rng.choice([f"doi: {doi}", f"https://doi.org/{doi}",
                                      f"DOI: {doi.upper()}"])
                text = f"# {head}\n\n{spelled}\n\n{body}"
                expect = (True, f"https://doi.org/{doi}")
            elif outcome == "title_hit":
                row = int(rng.integers(m))
                text = f"# {_perturb(rng, dim['title'][row])}\n\n{body}"
                expect = (True, f"{PUBMED_LINK}/{dim['pmid'][row]}")
            elif outcome == "doi_conflict":
                text = (f"# {dim['title'][row]}\n\ndoi: 10.9999/conflict.{b}.{f}"
                        f"\n\n{body}")
                expect = (False, PUBMED_LINK)
            elif outcome == "bib_only_doi":
                text = f"# {head}\n\n{body}\n\nReferences\n1. {doi}\n"
                expect = (False, PUBMED_LINK)
            else:
                text = f"# {head}\n\n{body}"
                expect = (False, PUBMED_LINK)
            with open(os.path.join(d, name), "wb") as fh:
                fh.write(text.encode("utf-8"))
            files[name] = {"outcome": outcome, "verified": expect[0], "link": expect[1]}
        batches.append(files)
    return {"workload": "pdf_enrich", "batches": batches}


# ----------------------------------------------------------- corpus_queries

# The 31-token vocabulary of the engine's document tables; the retrieval
# queries are keyword bags over it.
_DOC_WORDS = ("spark window merge table column vector stream value data small "
              "join filter big group hash customer sort order slow line part "
              "fast row the agg key query a scan batch").split()
_LANGS = (["en", "zh", "es", "fr", "de"], [0.41, 0.15, 0.15, 0.15, 0.14])
_SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def gen_corpus(out, seed, k=KNOBS):
    """The document / embedding / TPC-H-shaped tables the queries read, with
    the schemas of the engine's test tables. About 5% of documents are
    near-duplicates (an earlier document plus one token), so every
    qualifying duplicate pair has Jaccard >= 0.85."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 3])

    def write(name, cols, schema):
        pq.write_table(pa.table(cols, schema=schema), os.path.join(out, f"{name}.parquet"))

    n = k["corpus_docs"]
    texts = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_DOC_WORDS, size=int(rng.integers(10, 101)))))
    write("documents", {
        "doc_id": np.arange(n, dtype=np.int64), "text": texts,
        "lang": list(rng.choice(_LANGS[0], size=n, p=_LANGS[1])),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }, pa.schema([("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
                  ("source", pa.string()), ("n_chars", pa.int64())]))

    nv = k["corpus_vectors"]
    centers = rng.normal(size=(10, 64))
    labels = rng.integers(10, size=nv)
    vecs = centers[labels] + rng.normal(scale=1.5, size=(nv, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    write("embeddings", {"vec_id": np.arange(nv, dtype=np.int64),
                         "embedding": [list(v) for v in vecs],
                         "label": labels.astype(np.int32)},
          pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
                     ("label", pa.int32())]))

    write("region", {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": _REGIONS},
          pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]))
    write("nation", {"n_nationkey": np.arange(25, dtype=np.int32),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": (np.arange(25) % 5).astype(np.int32)},
          pa.schema([("n_nationkey", pa.int32()), ("n_name", pa.string()),
                     ("n_regionkey", pa.int32())]))
    nc, ns = k["corpus_customers"], k["corpus_suppliers"]
    money = lambda lo, hi, size: np.round(rng.uniform(lo, hi, size=size), 2)
    write("customer", {"c_custkey": np.arange(nc, dtype=np.int64),
                       "c_name": [f"Customer#{i:09d}" for i in range(nc)],
                       "c_nationkey": rng.integers(25, size=nc).astype(np.int32),
                       "c_acctbal": money(-999, 9999, nc),
                       "c_mktsegment": list(rng.choice(_SEGMENTS, size=nc))},
          pa.schema([("c_custkey", pa.int64()), ("c_name", pa.string()),
                     ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                     ("c_mktsegment", pa.string())]))
    write("supplier", {"s_suppkey": np.arange(ns, dtype=np.int64),
                       "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
                       "s_nationkey": rng.integers(25, size=ns).astype(np.int32),
                       "s_acctbal": money(-999, 9999, ns)},
          pa.schema([("s_suppkey", pa.int64()), ("s_name", pa.string()),
                     ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())]))
    no, nl = k["corpus_orders"], k["corpus_lineitems"]
    day0 = np.datetime64("1995-01-01")
    odate = day0 + rng.integers(0, 2404, size=no).astype("timedelta64[D]")
    write("orders", {"o_orderkey": np.arange(no, dtype=np.int64),
                     "o_custkey": rng.integers(nc, size=no).astype(np.int64),
                     "o_orderstatus": list(rng.choice(["O", "F", "P"], size=no)),
                     "o_totalprice": money(1000, 500000, no),
                     "o_orderdate": odate.astype("datetime64[us]"),
                     "o_orderpriority": list(rng.choice(_PRIORITIES, size=no))},
          pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                     ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
                     ("o_orderdate", pa.timestamp("us")),
                     ("o_orderpriority", pa.string())]))
    sdate = day0 + rng.integers(1, 2500, size=nl).astype("timedelta64[D]")
    write("lineitem", {"l_orderkey": rng.integers(no, size=nl).astype(np.int64),
                       "l_partkey": rng.integers(20 * nc, size=nl).astype(np.int64),
                       "l_suppkey": rng.integers(ns, size=nl).astype(np.int64),
                       "l_linenumber": rng.integers(1, 8, size=nl).astype(np.int32),
                       "l_quantity": rng.integers(1, 51, size=nl).astype(np.float64),
                       "l_extendedprice": money(900, 105000, nl),
                       "l_discount": rng.integers(0, 11, size=nl) / 100.0,
                       "l_tax": rng.integers(0, 9, size=nl) / 100.0,
                       "l_returnflag": list(rng.choice(["A", "N", "R"], size=nl)),
                       "l_linestatus": list(rng.choice(["O", "F"], size=nl)),
                       "l_shipdate": sdate.astype("datetime64[us]")},
          pa.schema([("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                     ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                     ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
                     ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                     ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
                     ("l_shipdate", pa.timestamp("us"))]))
    return {"workload": "corpus_queries", "docs": n}


GENERATORS = {"fda_daily": gen_fda, "pdf_enrich": gen_pdf, "corpus_queries": gen_corpus}
