"""Correctness checks, run untimed after the engine has produced its
outputs.  Every check goes through a `stats.Tally`, so a failed check is
named and counted, never dropped.
"""
import importlib.util
import math
import os

import pyarrow.parquet as pq


def _eq(t, name, got, want):
    return t.check(got == want, name, "got %r, want %r" % (got, want))


def _within(t, name, got, lo, hi):
    return t.check(lo <= got <= hi, name, "got %r, want [%r, %r]" % (got, lo, hi))


# --------------------------------------------------------------- etl_fleet

def check_etl(t, res, truth):
    numeric = ["temperature_c", "humidite_pct", "pression_hpa", "vent_vitesse_ms",
               "pluie_accum_mm"]
    for op in res["all_ops"]:
        if not op["ok"]:
            continue
        i, info = op["index"], op["info"]
        if op["kind"] == "load":
            pre = "etl pass %d load: " % i
            _eq(t, pre + "rowsWritten", info["rows_written"], truth["rows"])
            _eq(t, pre + "countReconciled", info["reconciled"], True)
            _eq(t, pre + "dupByDateStation", info["dup_by_date_station"],
                truth["dup_by_date_station"])
            _eq(t, pre + "dupByDate", info["dup_by_date"], truth["dup_by_date"])
            _eq(t, pre + "nullCounts", info["null_counts"], truth["null_counts"])
            _eq(t, pre + "anomalyCounts", info["anomaly_counts"], truth["anomaly_counts"])
            _eq(t, pre + "post-load nullCounts", info["post_null_counts"],
                {k: truth["null_counts"][k] for k in numeric})
        elif op["kind"] == "upsert":
            b = info["batch"]
            _eq(t, "etl pass %d upsert %d: sink rows" % (i, b), info["rows"],
                truth["sink_rows_after_batch"][b])
        elif op["kind"] == "compact":
            _eq(t, "etl pass %d compact: sink rows" % i, info["rows"],
                truth["sink_rows_after_batch"][-1])
    sink = res["finish"].get("sink")
    if not t.check(bool(sink) and os.path.isdir(sink), "etl final sink exists"):
        return
    table = pq.read_table(os.path.join(sink, _current_version(sink))).to_pydict()
    _eq(t, "etl final sink rows", len(table["id_station"]), truth["sink_rows_after_batch"][-1])
    have = {"%s|%s" % kv: tc for kv, tc in
            zip(zip(table["date_heure_utc"], table["id_station"]), table["temperature_c"])}
    wrong = [k for k, v in truth["latest_temperature"].items() if have.get(k) != v]
    t.check(not wrong, "etl final sink latest value per key",
            "%d keys differ, e.g. %s" % (len(wrong), wrong[:3]))


def _current_version(sink):
    with open(os.path.join(sink, "_MANIFEST")) as f:
        return f.read().split('"data":"')[1].split('"')[0]


# --------------------------------------------------------- corpus_curation

def _pair_bounds(truth):
    lo = math.ceil(truth["pairs_expected_found"] - 6 * truth["pairs_found_sigma"])
    return lo, truth["pairs"]


def check_curation(t, res, truth, small_truth, small_corpus, root):
    """Timed passes: planted counts, within the misses LSH banding allows,
    and identical outputs. Small corpus: registered-query oracles where
    the call matches one, exact planted checks otherwise."""
    lo, hi = _pair_bounds(truth)
    checksums = {}
    for op in res["all_ops"]:
        if not op["ok"]:
            continue
        pre, s = "curation pass %d " % op["index"], op["info"]
        found = s["pairs"]["rows"]
        _within(t, pre + "minhash pairs", found, lo, hi)
        missed = truth["pairs"] - found
        _within(t, pre + "curate rows", s["curate"]["rows"],
                truth["curate_rows_full_recall"], truth["curate_rows_full_recall"] + missed)
        _within(t, pre + "representative rows", s["representatives"]["rows"],
                truth["pair_nodes"] - 2 * missed, truth["pair_nodes"])
        # a missed pair can split a cluster or remove a two-doc one
        _within(t, pre + "cluster count", s["representatives"]["reps"],
                truth["components"] - missed, truth["components"] + missed)
        _eq(t, pre + "span_dedup rows", s["span_dedup"]["rows"], truth["docs"])
        _within(t, pre + "span_dedup removed tokens", s["span_dedup"]["removed"],
                truth["copy_tokens"], truth["tokens"])
        _eq(t, pre + "gopher rows", s["gopher"]["rows"], truth["docs"])
        for name, v in s.items():
            checksums.setdefault(name, set()).add(v["checksum"])
    for name, sums in sorted(checksums.items()):
        _eq(t, "curation %s output identical across passes" % name, len(sums), 1)
    if "error" in res["finish"]:
        return  # already counted as a failed post-run collection

    import duckdb
    cc = _load_check_correctness(root)
    out, oracle = res["finish"]["small_dir"], res["finish"]["oracle_sql"]
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM '%s/*.parquet'" % small_corpus)

    def got(name):
        return cc.normalize(con.execute("SELECT * FROM '%s/%s/*.parquet'" % (out, name)).df())

    for q, name in (("q111_span_dedup", "span_dedup"), ("q139_gopher_repetition", "gopher")):
        g, e = got(name), cc.normalize(con.execute(oracle[q]).df())
        ok = list(g.columns) == list(e.columns) and cc.rendered(g) == cc.rendered(e)
        t.check(ok, "curation %s matches the %s oracle" % (name, q),
                "spark %d rows, oracle %d rows" % (len(g), len(e)))

    # LSH finds a pair with probability < 1, so the output is the oracle's
    # pair set minus misses: no extra pair, identical Jaccard, and no more
    # misses than the banding predicts
    e = cc.normalize(con.execute(oracle["q29_minhash_neardups"]).df())
    want = {(r.id_a, r.id_b): cc.render(r.jaccard) for r in e.itertuples()}
    have = {(r.id_a, r.id_b): cc.render(r.jaccard) for r in got("pairs").itertuples()}
    _eq(t, "curation q29 oracle pairs equal the planted pairs", len(want), small_truth["pairs"])
    extra = [k for k in have if want.get(k) != have[k]]
    t.check(not extra, "curation minhash pairs are q29 oracle pairs with equal Jaccard",
            "%d differ, e.g. %s" % (len(extra), extra[:3]))
    _within(t, "curation small-corpus minhash pairs", len(have), *_pair_bounds(small_truth))

    docs = pq.read_table(small_corpus, columns=["doc_id", "text"]).to_pydict()
    winners = {}
    for i, s in zip(docs["doc_id"], docs["text"]):
        winners[s] = min(winners.get(s, i), i)
    win = set(winners.values())
    losers = {b for (a, b) in have if a in win and b in win}
    _eq(t, "curation curate ids = exact-dedup winners without near-dup losers",
        set(got("curate")["doc_id"].tolist()) == win - losers, True)

    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in have:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    reps = got("representatives")
    _eq(t, "curation representatives are the min ids of the pair-graph components",
        set(zip(reps["id"].tolist(), reps["rep"].tolist())) == {(x, find(x)) for x in parent},
        True)


def _load_check_correctness(root):
    spec = importlib.util.spec_from_file_location(
        "check_correctness", os.path.join(root, "tools", "check_correctness.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


# ------------------------------------------------------------- ann_serving

def check_ann(t, res, truth):
    """Every response holds k distinct valid ids; returns recall@k per
    path against the exact top-k."""
    exact = res["finish"].get("exact")
    t.check(exact is not None, "ann exact top-k computed", str(res["finish"].get("error")))
    k, n = truth["k"], truth["vectors"]
    recall = {}
    for op in res["all_ops"]:
        if not op["ok"]:
            continue
        ids, path = op["info"]["ids"], op["kind"].split(":")[1]
        t.check(len(ids) == k and len(set(ids)) == k and all(0 <= i < n for i in ids),
                "ann request %d (%s) returns %d valid ids" % (op["index"], path, k),
                "got %s" % ids)
        if exact:
            want = set(exact[str(op["info"]["probe"])])
            recall.setdefault(path, []).append(len(want & set(ids)) / k)
    return recall
