"""Seeded input generators for the three workloads.

Each generator writes the files the engine reads and returns the facts
the correctness checks compare against ("truth"): the counts the
generator planted.  The same seed and parameters give byte-identical
files.  The engine sees only the files.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STOPWORDS = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it"]
LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


def _dir_facts(path):
    files, size = 0, 0
    for root, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


# --------------------------------------------------------------- etl_fleet

ETL_PARAMS = {
    "stations": 30,          # x 7 days = 210 station-day CSV files
    "rows_per_file": 60,
    "null_share": 0.02,      # empty Temperature cells
    "dup_share": 0.01,       # repeated Time within a station-day
    "out_of_range_share": 0.01,  # 130 degF, above the 50 degC bound
    "json_stations": 4,
    "json_null_share": 0.02,
    "upsert_batches": 3,
    "upsert_rows": 300,
    "upsert_new_key_share": 0.1,
    "compact_files": 4,
}

DATES = ["2024-10-0%d" % d for d in range(1, 8)]
WU_HEADER = ("Time;Temperature;Dew Point;Humidity ;Wind;Speed;Gust;Pressure;"
             "Precip. Rate.;Precip. Accum. ;UV;Solar\n")
WU_UNITS = "(°F);(°F);(%);;(mph);(mph);(in);(in);(in);;(w/m²)\n"


def _clock(minute):
    h24, mm = divmod(minute, 60)
    h12 = h24 % 12 or 12
    return "%d:%02d %s" % (h12, mm, "AM" if h24 < 12 else "PM")


def _wu_row(time, temp, rng):
    hum = int(rng.integers(30, 96))
    speed = int(rng.integers(0, 200))
    press = int(rng.integers(2950, 3030))
    precip = int(rng.integers(0, 20))
    return ("%s;%s;50,0 °F;%d %%;S;%d,%d mph;6,0 mph;%d,%02d in;0,00 in;"
            "0,%02d in;0;0 w/m²\n" % (time, temp, hum, speed // 10, speed % 10,
                                      press // 100, press % 100, precip))


def gen_etl(out, seed, p=ETL_PARAMS):
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out, exist_ok=True)
    stations = ["st%04d" % i for i in range(p["stations"])]
    files = [(s, d) for s in stations for d in DATES]
    rpf = p["rows_per_file"]
    step = 1440 // rpf
    n = len(files) * rpf
    picks = rng.permutation(n)
    n_null = round(p["null_share"] * n)
    n_oor = round(p["out_of_range_share"] * n)
    n_dup = round(p["dup_share"] * n)
    null_cells = set(picks[:n_null].tolist())
    oor_cells = set(picks[n_null:n_null + n_oor].tolist())
    dup_cells = set(rng.choice(n, n_dup, replace=False).tolist())

    manifest, dates_seen, keys = [], [], set()
    for fi, (st, d) in enumerate(files):
        lines = [WU_HEADER]
        for r in range(rpf):
            cell = fi * rpf + r
            time = _clock(r * step)
            if cell in null_cells:
                temp = ""
            elif cell in oor_cells:
                temp = "130,0 °F"
            else:
                t = int(rng.integers(400, 800))
                temp = "%d,%d °F" % (t // 10, t % 10)
            lines.append(_wu_row(time, temp, rng))
            if r == 0:
                lines.append(WU_UNITS)  # physical row 2, dropped by the transform
            dates_seen.append("%s %s" % (d, time))
            keys.add(("%s %s" % (d, time), st))
            if cell in dup_cells:
                lines.append(_wu_row(time, "60,0 °F", rng))
                dates_seen.append("%s %s" % (d, time))
        lines.append("Summary;;;;;;;;;;;\n")
        path = os.path.join(out, "wu-%s-%s.csv" % (st, d))
        with open(path, "w", encoding="latin-1") as f:
            f.write("".join(lines))
        manifest.append({"station": st, "date": d, "path": os.path.abspath(path)})

    hourly, json_nulls = {}, 0
    for j in range(p["json_stations"]):
        sid = "%05d" % (7000 + j)
        recs = []
        for h in range(7 * 24):
            day, hour = divmod(h, 24)
            null = rng.random() < p["json_null_share"]
            json_nulls += int(null)
            rec = {"id_station": sid,
                   "dh_utc": "%s %02d:00:00" % (DATES[day], hour),
                   "temperature": "" if null else "%.1f" % rng.uniform(5, 20),
                   "pression": "%.1f" % rng.uniform(990, 1030),
                   "humidite": str(int(rng.integers(40, 99))),
                   "vent_moyen": "%.1f" % rng.uniform(0, 40)}
            if h % 3 == 0:
                rec["pluie_1h"], rec["pluie_3h"] = "0.2", "0.9"
            elif h % 3 == 1:
                rec["pluie_1h"], rec["pluie_3h"] = "", "0.5"
            else:
                rec["pluie_3h"] = "0.4"
            recs.append(rec)
            dates_seen.append(rec["dh_utc"])
            keys.add((rec["dh_utc"], sid))
        hourly[sid] = recs
    hourly["_malformed_station"] = "not-a-list"
    json_path = os.path.join(out, "infoclimat.json")
    with open(json_path, "w", encoding="utf-8") as f:
        json.dump({"hourly": hourly}, f)

    # late-correction batches: mostly existing WU keys, some new ones
    wu_keys = sorted(k for k in keys if k[1].startswith("st"))
    latest, new_keys, batches, sink_rows = {}, set(), [], []
    for b in range(p["upsert_batches"]):
        n_new = round(p["upsert_new_key_share"] * p["upsert_rows"])
        old = [wu_keys[i] for i in rng.choice(len(wu_keys), p["upsert_rows"] - n_new,
                                               replace=False)]
        new = []
        while len(new) < n_new:
            st = stations[int(rng.integers(len(stations)))]
            d = DATES[int(rng.integers(7))]
            minute = int(rng.integers(rpf)) * step + 1 + b  # never on the grid
            k = ("%s %s" % (d, _clock(minute)), st)
            if k not in keys and k not in new_keys:
                new_keys.add(k)
                new.append(k)
        rows = old + new
        temps = np.round(rng.uniform(-10, 30, len(rows)), 2)
        for k, t in zip(rows, temps):
            latest["%s|%s" % k] = float(t)
        table = pa.table({
            "date_heure_utc": pa.array([k[0] for k in rows], pa.string()),
            "temperature_c": pa.array(temps, pa.float64()),
            "humidite_pct": pa.array(np.full(len(rows), 50.0), pa.float64()),
            "pression_hpa": pa.array(np.full(len(rows), 1013.0), pa.float64()),
            "vent_vitesse_ms": pa.array(np.full(len(rows), 2.0), pa.float64()),
            "pluie_accum_mm": pa.array(np.zeros(len(rows)), pa.float64()),
            "id_station": pa.array([k[1] for k in rows], pa.string()),
            "source_donnees": pa.array(["Weather Underground"] * len(rows), pa.string()),
        })
        bpath = os.path.join(out, "upsert-%d.parquet" % b)
        pq.write_table(table, bpath)
        batches.append(os.path.abspath(bpath))
        sink_rows.append(len(keys) + len(new_keys))

    total = len(dates_seen)
    null_temp = n_null + json_nulls
    files_n, size = _dir_facts(out)
    return {
        "params": p,
        "manifest": manifest,
        "json": os.path.abspath(json_path),
        "upserts": batches,
        "truth": {
            "rows": total,
            "dup_by_date_station": n_dup,
            "dup_by_date": total - len(set(dates_seen)),
            "null_counts": {"date_heure_utc": 0, "temperature_c": null_temp,
                            "humidite_pct": 0, "pression_hpa": 0,
                            "vent_vitesse_ms": 0, "pluie_accum_mm": 0,
                            "id_station": 0, "source_donnees": 0},
            "anomaly_counts": {"temperature_c": n_oor, "humidite_pct": 0,
                               "pression_hpa": 0, "vent_vitesse_ms": 0},
            "sink_rows_after_batch": sink_rows,
            "latest_temperature": latest,
        },
        "input": {"files": files_n, "rows": total, "bytes": size},
    }


# --------------------------------------------------------- corpus_curation

CORPUS_PARAMS = {
    "base_docs": 1600,
    "exact_dup_sources": 70,    # each copied 1-3 times
    "clusters": 40,             # near-dup chains
    "chain_len": 4,
    "edits_per_step": 3,        # tokens replaced between chain neighbours
    "vocab": 20000,
    "doc_tokens": [60, 160],
    "stopword_share": 0.25,
    "span_share": 0.1,          # docs carrying a shared 12-token span
    "span_pool": 20,
    "files": 8,
}
ORACLE_SCALE = 16  # the oracle instance is the same generator, 1/16 size


def _vocab(rng, n):
    words, seen = [], set(STOPWORDS)
    while len(words) < n:
        w = "".join(LETTERS[rng.integers(0, 26, int(rng.integers(3, 10)))])
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def _shingles(toks):
    return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}


def _jaccard(a, b):
    return len(a & b) / len(a | b)


def scaled_corpus_params(p, scale):
    q = dict(p)
    for k in ("base_docs", "exact_dup_sources", "clusters", "span_pool"):
        q[k] = max(2, p[k] // scale)
    q["files"] = 2
    return q


def gen_corpus(out, seed, p=CORPUS_PARAMS):
    rng = np.random.default_rng([seed, 2])
    vocab = _vocab(rng, p["vocab"])
    lo, hi = p["doc_tokens"]

    def words(k):
        sw = rng.random(k) < p["stopword_share"]
        vi = rng.integers(0, len(vocab), k)
        si = rng.integers(0, len(STOPWORDS), k)
        return [STOPWORDS[s] if w else vocab[v] for w, v, s in zip(sw, vi, si)]

    spans = [words(12) for _ in range(p["span_pool"])]

    def doc():
        toks = words(int(rng.integers(lo, hi + 1)))
        if rng.random() < p["span_share"]:
            at = int(rng.integers(0, len(toks)))
            toks[at:at] = spans[int(rng.integers(len(spans)))]
        return toks

    texts = [doc() for _ in range(p["base_docs"])]
    base_n = len(texts)
    exact_groups = []  # lists of text indexes sharing one text
    for src in rng.choice(base_n, p["exact_dup_sources"], replace=False):
        grp = [int(src)]
        for _ in range(int(rng.integers(1, 4))):
            grp.append(len(texts))
            texts.append(list(texts[src]))
        exact_groups.append(grp)
    chains = []
    for _ in range(p["clusters"]):
        cur = doc()
        chain = [len(texts)]
        texts.append(cur)
        for _ in range(p["chain_len"] - 1):
            nxt = list(cur)
            for pos in rng.choice(len(nxt), p["edits_per_step"], replace=False):
                w = nxt[pos]
                while w == nxt[pos]:
                    w = vocab[int(rng.integers(len(vocab)))]
                nxt[pos] = w
            chain.append(len(texts))
            texts.append(nxt)
            cur = nxt
        chains.append(chain)

    n = len(texts)
    ids = rng.permutation(n).astype(np.int64)  # winners are not the sources
    strs = [" ".join(t) for t in texts]

    # planted near-dup pairs (word-3-shingle Jaccard >= 0.8), as id pairs
    pairs = {}
    for grp in exact_groups:
        gids = sorted(int(ids[i]) for i in grp)
        for a in range(len(gids)):
            for b in range(a + 1, len(gids)):
                pairs[(gids[a], gids[b])] = 1.0
    for chain in chains:
        sh = [_shingles(texts[i]) for i in chain]
        for a in range(len(chain)):
            for b in range(a + 1, len(chain)):
                j = _jaccard(sh[a], sh[b])
                if j >= 0.8:
                    x, y = sorted((int(ids[chain[a]]), int(ids[chain[b]])))
                    pairs[(x, y)] = j
    # banding (4 bands x 4 rows): P(pair found) = 1 - (1 - J^4)^4
    probs = np.array([1 - (1 - j ** 4) ** 4 for j in pairs.values()])
    expected_found = float(probs.sum())
    sigma = float(np.sqrt((probs * (1 - probs)).sum()))

    # connected components of the planted pair graph
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent[find(a)] = find(b)
    nodes = {x for pr in pairs for x in pr}
    components = len({find(x) for x in nodes})

    # curate(nearDupJaccard = 0.8): exact dedup keeps the min id per
    # text; a surviving doc is dropped when it pairs with a smaller id
    winners = {}
    for i, s in enumerate(strs):
        winners[s] = min(winners.get(s, 1 << 62), int(ids[i]))
    win_ids = set(winners.values())
    losers = {b for (a, b) in pairs if a in win_ids and b in win_ids}
    copy_tokens = sum(len(texts[g[0]]) * (len(g) - 1) for g in exact_groups)

    order = rng.permutation(n)
    os.makedirs(out, exist_ok=True)
    for f, chunk in enumerate(np.array_split(order, p["files"])):
        pq.write_table(pa.table({
            "doc_id": pa.array(ids[chunk], pa.int64()),
            "text": pa.array([strs[i] for i in chunk], pa.string()),
            "lang": pa.array(["en"] * len(chunk), pa.string()),
            "source": pa.array(["web"] * len(chunk), pa.string()),
            "n_chars": pa.array([len(strs[i]) for i in chunk], pa.int64()),
        }), os.path.join(out, "part-%03d.parquet" % f))
    files_n, size = _dir_facts(out)
    return {
        "params": p,
        "corpus": os.path.abspath(out),
        "truth": {
            "docs": n,
            "tokens": sum(len(t) for t in texts),
            "distinct_texts": len(win_ids),
            "pairs": len(pairs),
            "pairs_expected_found": expected_found,
            "pairs_found_sigma": sigma,
            "pair_nodes": len(nodes),
            "components": components,
            "curate_rows_full_recall": len(win_ids) - len(losers),
            "copy_tokens": copy_tokens,
        },
        "input": {"files": files_n, "rows": n, "bytes": size},
    }


# ------------------------------------------------------------- ann_serving

ANN_PARAMS = {
    "vectors": 4000,
    "dim": 16,
    "clusters": 16,
    "noise": 0.35,          # per-vector gaussian noise norm before renormalising
    "probe_pool": 1000,
    "k": 10,
    "ivf_cells": 8,
    "nprobe": 2,
    "pq_m": 4,
    "pq_k": 16,
    "kmeans_iterations": 1,
    "lsh_bands": 4,
    "schedule": 20000,      # requests drawn ahead; a run uses a prefix
}
ANN_PATHS = ["ivf", "ivfadc", "lsh"]


def gen_ann(out, seed, p=ANN_PARAMS):
    rng = np.random.default_rng([seed, 3])
    d = p["dim"]

    def unit(x):
        return (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)

    centers = unit(rng.standard_normal((p["clusters"], d)))

    def around(k):
        lab = rng.integers(0, p["clusters"], k)
        noise = rng.standard_normal((k, d)) * (p["noise"] / np.sqrt(d))
        return unit(centers[lab] + noise), lab

    vecs, labels = around(p["vectors"])
    probes, _ = around(p["probe_pool"])
    os.makedirs(out, exist_ok=True)
    emb_dir = os.path.join(out, "embeddings")
    os.makedirs(emb_dir, exist_ok=True)
    for f, chunk in enumerate(np.array_split(np.arange(p["vectors"]), 4)):
        pq.write_table(pa.table({
            "vec_id": pa.array(chunk.astype(np.int64), pa.int64()),
            "embedding": pa.array(list(vecs[chunk]), pa.list_(pa.float32())),
            "label": pa.array(labels[chunk].astype(np.int32), pa.int32()),
        }), os.path.join(emb_dir, "part-%d.parquet" % f))
    probe_path = os.path.join(out, "probes.parquet")
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(p["probe_pool"], dtype=np.int64) + 10 ** 9, pa.int64()),
        "embedding": pa.array(list(probes), pa.list_(pa.float32())),
    }), probe_path)
    # closed-loop request mix: every block of three requests hits each
    # index path once, in a seeded order, so the mix is fixed per run
    blocks = p["schedule"] // 3
    paths = np.array([rng.permutation(3) for _ in range(blocks)]).reshape(-1)
    probe_ix = rng.integers(0, p["probe_pool"], len(paths))
    files_n, size = _dir_facts(out)
    return {
        "params": p,
        "embeddings": os.path.abspath(emb_dir),
        "probes": os.path.abspath(probe_path),
        "schedule": [[ANN_PATHS[int(a)], int(b)] for a, b in zip(paths, probe_ix)],
        "truth": {"vectors": p["vectors"], "k": p["k"]},
        "input": {"files": files_n, "rows": p["vectors"] + p["probe_pool"], "bytes": size},
    }
