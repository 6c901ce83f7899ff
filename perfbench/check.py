"""Output checks, run after the JVM has exited (outside every timed region).

Each check returns the set of operation indices whose output is wrong, plus
a list of messages. The expected values come from the generator's manifest
or from DuckDB, never from the engine under test.
"""
import glob
import json
import os

RAG_FIELDS = ("content", "source", "url", "date", "version", "title", "description",
              "rag_id")


def _json_lines(pattern):
    """Parsed lines of every JSON file matching `pattern`; raises on a bad line."""
    out = []
    for p in sorted(glob.glob(pattern, recursive=True)):
        with open(p) as f:
            for line in f:
                if line.strip():
                    out.append(json.loads(line))
    return out


def _rag_ok(r):
    return all(k in r for k in RAG_FIELDS) and r["content"] and r["rag_id"]


def check_fda(rec, manifest):
    """Each round starts from empty state, so the expected delta of a tick
    is every id it lists that the round has not yet published."""
    bad, msgs = set(), []
    published_before = set()
    for i, op in enumerate(rec["ops"]):
        if op["kind"] == "publish":
            _check_fda_round(i, op, published_before, bad, msgs)
            published_before = set()
            continue
        if op["kind"] != "tick":
            continue
        want = manifest["ticks"][op["info"]["tick"]]["ids"]
        if op["info"]["tick"] == 0:
            published_before = set()
        # quarantined pages retry on every tick until an edit publishes them
        expect = {k: v for k, v in want.items() if k not in published_before}
        expect_pub = {k for k, v in expect.items() if v}
        d, b = op["info"]["dir"], op["info"]["batch_id"]
        try:
            pub = _json_lines(f"{d}/published/batch={b}/*.json")
            quar = _json_lines(f"{d}/quarantine/batch={b}/*.json")
        except ValueError as e:
            bad.add(i); msgs.append(f"op {i}: unparsable JSONL: {e}")
            continue
        pub_ids = {r.get("rag_id") for r in pub}
        quar_ids = {r.get("rag_id") for r in quar}
        if not all(_rag_ok(r) for r in pub):
            bad.add(i); msgs.append(f"op {i}: published record without RAG fields")
        if len(pub_ids) != len(pub) or (pub_ids | quar_ids) != set(expect):
            bad.add(i); msgs.append(f"op {i}: published+quarantined ids differ from "
                                    f"the expected delta ({len(pub_ids | quar_ids)} vs {len(expect)})")
        elif pub_ids != expect_pub:
            bad.add(i); msgs.append(f"op {i}: publish/quarantine split differs")
        published_before |= expect_pub
    return bad, msgs


def _check_fda_round(i, op, published, bad, msgs):
    """The round's closing publish: the master and the JSONL set each hold
    exactly the ids the round's ticks were expected to publish."""
    import pyarrow.parquet as pq
    d = op["info"]["dir"]
    ids = pq.read_table(f"{d}/master", columns=["rag_id"]).column(0).to_pylist()
    if len(ids) != len(set(ids)) or set(ids) != published:
        bad.add(i); msgs.append(f"op {i}: master does not hold exactly the distinct published ids")
    try:
        out = _json_lines(f"{d}/jsonl/*.json")
        if len(out) != len(published) or not all(_rag_ok(r) for r in out) or \
                {r["rag_id"] for r in out} != published:
            bad.add(i); msgs.append(f"op {i}: JSONL publish differs from the published records")
    except ValueError as e:
        bad.add(i); msgs.append(f"op {i}: JSONL publish: unparsable line: {e}")


def check_pdf(rec, manifest):
    bad, msgs = set(), []
    for i, op in enumerate(rec["ops"]):
        if op["kind"] != "batch":
            continue
        want = manifest["batches"][int(op["info"]["batch"].split("=")[1])]
        try:
            got = {os.path.basename(r["path"]): (r["verified"], r["Link"])
                   for r in _json_lines(f"{op['info']['out']}/records/*/*.json")}
            out = _json_lines(f"{op['info']['out']}/jsonl/*.json")
        except ValueError as e:
            bad.add(i); msgs.append(f"op {i}: unparsable output: {e}")
            continue
        wrong = [n for n, w in want.items() if got.get(n) != (w["verified"], w["link"])]
        if wrong or len(got) != len(want):
            bad.add(i); msgs.append(f"op {i}: {len(wrong)} files with the wrong outcome, "
                                    f"e.g. {wrong[:1]} ({want[wrong[0]]['outcome'] if wrong else ''})")
        if len(out) != len(want) or not all(_rag_ok(r) for r in out):
            bad.add(i); msgs.append(f"op {i}: JSONL publish has {len(out)} valid records, "
                                    f"expected {len(want)}")
    return bad, msgs


def _engine_check():
    """The engine's own oracle compare, tools/check.py, loaded by path (this
    directory has a check.py of its own)."""
    import importlib.util
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "tools", "check.py")
    spec = importlib.util.spec_from_file_location("engine_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def check_queries(rec, manifest):
    """Each query's result against DuckDB running the engine's oracle SQL,
    compared with tools/check.py's `frame_key`: column names, dtype kinds
    (an array column fails), and sorted canonical rows."""
    import duckdb
    import pandas as pd
    frame_key = _engine_check().frame_key
    chk = rec["check"]
    con = duckdb.connect()
    for t, p in chk["tables"].items():
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    wrong, msgs = set(), []
    for q, c in chk["queries"].items():
        try:
            files = glob.glob(f"{c['path']}/*.parquet")
            sdf = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
            odf = con.sql(c["oracle_sql"]).df()
            skinds, snr, srows = frame_key(sdf, q, "spark")
            okinds, onr, orows = frame_key(odf, q, "oracle")
            if snr is None or onr is None:
                wrong.add(q); msgs.append(f"{q}: {skinds if snr is None else okinds}")
            elif skinds != okinds:
                wrong.add(q); msgs.append(f"{q}: columns/kinds {skinds} vs {okinds}")
            elif srows != orows:
                wrong.add(q); msgs.append(f"{q}: rows differ ({snr} vs {onr})")
        except Exception as e:  # an unreadable result is a failed check too
            wrong.add(q); msgs.append(f"{q}: {type(e).__name__}: {e}")
    bad = {i for i, op in enumerate(rec["ops"]) if op["name"] in wrong}
    return bad, msgs


CHECKS = {"fda_daily": check_fda, "pdf_enrich": check_pdf, "corpus_queries": check_queries}
