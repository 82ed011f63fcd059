"""Seeded input generators for the three benchmark workloads.

Every byte written here is a pure function of the seed (and the sizes
below): the same seed gives byte-identical files, another seed gives
different ones. Nothing reads the host clock or the environment.

* tables (flow_dashboard and its traced curation passes): `events`,
  `documents` and `embeddings` parquet files at the sf0.1 scale, in the
  schema of the graded test data (µs `events.ts`, float32 embeddings),
  plus a 1k-row `events` copy for set-up warm-ups.
* nfdump CSV (etl_service): files with the 48-column `nfdump -o csv`
  header, a share of malformed lines and the `Summary,...` footer, with
  flow timestamps spread over several days. Files are written to a
  staging dir; the JVM side renames them into the watched dirs.

Each generator writes `manifest.json` next to its output: the expected
good-row count and `ibyt` sum per file, which the output checks compare
against.
"""
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

NFDUMP_COLUMNS = [
    "ts", "te", "td", "sa", "da", "sp", "dp", "pr", "flg", "fwd",
    "stos", "ipkt", "ibyt", "opkt", "obyt", "in", "out", "sas", "das",
    "smk", "dmk", "dtos", "dir", "nh", "nhb", "svln", "dvln", "ismc",
    "odmc", "idmc", "osmc", "mpls1", "mpls2", "mpls3", "mpls4",
    "mpls5", "mpls6", "mpls7", "mpls8", "mpls9", "mpls10", "cl", "sl",
    "al", "ra", "eng", "exid", "tr"]

# sf0.1 sizes of the graded test data
EVENTS_ROWS = 100_000
WARM_EVENTS_ROWS = 1_000
DOCUMENTS_ROWS = 5_000
EMBEDDINGS_ROWS = 2_000
EMBED_DIM = 64
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
LANGS = ["en"] * 8 + ["es", "es", "zh", "zh", "de", "de", "fr", "fr"]

# etl_service file plan: (phase, watcher, files, rows per file). Phase
# "a" is the parquet backlog drained by two watchers (and backfilled in
# batch from the same files), "b" the smaller
# JDBC backlog (Derby loads several times slower than parquet; one file
# makes one partition, so one connection, which keeps Derby's lock
# contention between writers out of the measurement), "c" the files
# released on a fixed schedule, "w" the set-up warm-up.
ETL_PLAN = [
    ("w", "w1", 1, 2_000), ("w", "w2", 1, 2_000), ("w", "jdbc", 1, 2_000),
    ("a", "w1", 5, 10_000), ("a", "w2", 5, 10_000),
    ("b", "jdbc", 1, 10_000),
    ("c", "w1", 50, 200), ("c", "w2", 50, 200),
]
MALFORMED_EVERY = 97  # one line in 97 carries an unparsable timestamp
ETL_DAY0 = 1_709_251_200  # 2024-03-01 00:00:00 UTC
ETL_DAYS = 4


def _write_parquet(table, path):
    # no pandas metadata, fixed compression: the bytes depend on the
    # data alone
    pq.write_table(table.replace_schema_metadata(None), path,
                   compression="snappy", use_dictionary=True,
                   write_statistics=True)


def gen_events(seed, n, path):
    """`n` flow events over 30 days, sorted by time."""
    rng = np.random.default_rng([seed, 1, n])
    start_us = 1_704_067_200_000_000  # 2024-01-01 00:00:00
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n)) + start_us
    user = rng.integers(0, 1500, n)
    etype = rng.integers(0, len(EVENT_TYPES), n)
    value = np.round(rng.exponential(50.0, n), 2)
    k = rng.integers(0, 100, n)
    events = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(user.astype(np.int64)),
        "event_type": pa.array([EVENT_TYPES[i] for i in etype], pa.string()),
        "value": pa.array(value, pa.float64()),
        "props": pa.array([f'{{"k": {int(x)}}}' for x in k], pa.string()),
    })
    _write_parquet(events, path)


def gen_tables(seed, out_dir):
    os.makedirs(f"{out_dir}/warm", exist_ok=True)
    gen_events(seed, EVENTS_ROWS, f"{out_dir}/events.parquet")
    # a small copy for set-up warm-ups, so warming does not pay full-size queries
    gen_events(seed, WARM_EVENTS_ROWS, f"{out_dir}/warm/events.parquet")

    # documents: random vocab text, 5% near-duplicates (an earlier doc
    # plus " dup") and a few exact duplicate pairs
    r = random.Random(seed * 7919 + 2)
    texts = []
    for i in range(DOCUMENTS_ROWS):
        if i >= 100 and i % 20 == 11:
            texts.append(texts[r.randrange(i)] + " dup")
        elif i >= 100 and i % 625 == 17:
            texts.append(texts[r.randrange(i)])
        else:
            texts.append(" ".join(r.choice(VOCAB)
                                  for _ in range(r.randint(8, 95))))
    documents = pa.table({
        "doc_id": pa.array(range(DOCUMENTS_ROWS), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([r.choice(LANGS) for _ in texts], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(DOCUMENTS_ROWS)],
                           pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    _write_parquet(documents, f"{out_dir}/documents.parquet")

    # embeddings: unit vectors around 10 weak cluster centres
    erng = np.random.default_rng([seed, 3])
    centres = erng.normal(0.0, 0.5, (10, EMBED_DIM))
    labels = erng.integers(0, 10, EMBEDDINGS_ROWS)
    vecs = centres[labels] + erng.normal(0.0, 1.0, (EMBEDDINGS_ROWS, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    embeddings = pa.table({
        "vec_id": pa.array(range(EMBEDDINGS_ROWS), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })
    _write_parquet(embeddings, f"{out_dir}/embeddings.parquet")

    manifest = {"seed": seed, "tables": {
        "events": EVENTS_ROWS, "documents": DOCUMENTS_ROWS,
        "embeddings": EMBEDDINGS_ROWS}}
    with open(f"{out_dir}/manifest.json", "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


def _csv_file(rng, fid, wid, rows):
    """One nfdump CSV file: its text, good-row count and good-row ibyt sum.

    `ra` carries the file id, `sp` the row index, so every good row is
    unique by (ra, sp) and traceable to its file.
    """
    t0 = ETL_DAY0 * 1000 + rng.integers(0, ETL_DAYS * 86_400_000 - 120_000, rows)
    dur = rng.integers(0, 60_000, rows)
    ipkt = rng.integers(1, 401, rows)
    ibyt = ipkt * rng.integers(40, 1501, rows)
    ts = np.datetime_as_string(t0.astype("datetime64[ms]"), unit="ms").tolist()
    te = np.datetime_as_string((t0 + dur).astype("datetime64[ms]"), unit="ms").tolist()
    sa = rng.integers(0, 64 * 65_536, rows).tolist()
    da = rng.integers(0, 65_536, rows).tolist()
    dp = np.array([53, 80, 123, 443, 8080, 8443])[rng.integers(0, 6, rows)].tolist()
    pr = np.array(["TCP", "UDP", "ICMP", " tcp", "udp "])[rng.integers(0, 5, rows)].tolist()
    flg = np.array(["...AP.", ".A..S.", "....S.", ".AP.SF", "......"])[rng.integers(0, 5, rows)].tolist()
    bad = (np.arange(rows) + fid) % MALFORMED_EVERY == 0
    ra = f"10.{250 + wid}.{fid // 256}.{fid % 256}"
    # the 29 columns between obyt and ra (in, out, ..., cl, sl, al)
    tail = "," + ",".join(["0"] * 29) + f",{ra},0,0,0"
    lines = [",".join(NFDUMP_COLUMNS)]
    lines += [
        f"{'not-a-timestamp' if x else a[:10] + ' ' + a[11:]},{b[:10]} {b[11:]},{d / 1000:.3f},"
        f"10.{s >> 16}.{(s >> 8) & 255}.{s & 255},192.168.{t >> 8}.{t & 255},{1024 + i},"
        f"{p},{q},{f},0,0,{j},{k},{j // 2},{k // 3}{tail}"
        for i, (x, a, b, d, s, t, p, q, f, j, k) in enumerate(zip(
            bad.tolist(), ts, te, dur.tolist(), sa, da, dp, pr, flg,
            ipkt.tolist(), ibyt.tolist()))]
    good = int((~bad).sum())
    ibyt_sum = int(ibyt[~bad].sum())
    lines += ["Summary", "flows,bytes,packets,avg_bps,avg_pps,avg_bpp",
              f"{rows},{ibyt_sum},0,0,0,0"]
    return "\n".join(lines) + "\n", good, ibyt_sum


def gen_etl(seed, out_dir):
    """Write every etl_service input file under `out_dir/staged/<phase>/<watcher>/`."""
    rng = np.random.default_rng([seed, 5])
    files = []
    fid = 0
    for phase, watcher, nfiles, rows in ETL_PLAN:
        wid = {"w1": 1, "w2": 2, "jdbc": 3}[watcher]
        d = f"{out_dir}/staged/{phase}/{watcher}"
        os.makedirs(d, exist_ok=True)
        for j in range(nfiles):
            text, good, ibyt = _csv_file(rng, fid, wid, rows)
            name = f"nfcapd.{phase}{watcher}.{j:04d}.csv"
            with open(f"{d}/{name}", "w") as f:
                f.write(text)
            files.append({"phase": phase, "watcher": watcher, "name": name,
                          "rows": good, "ibyt": ibyt, "fid": fid})
            fid += 1
    totals = {}
    for e in files:
        t = totals.setdefault(f"{e['phase']}/{e['watcher']}",
                              {"files": 0, "rows": 0, "ibyt": 0})
        t["files"] += 1
        t["rows"] += e["rows"]
        t["ibyt"] += e["ibyt"]
    manifest = {"seed": seed, "files": files, "totals": totals}
    with open(f"{out_dir}/manifest.json", "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    # the same plan as tab-separated lines, for the JVM side
    with open(f"{out_dir}/files.tsv", "w") as f:
        for e in files:
            f.write(f"{e['phase']}\t{e['watcher']}\t{e['name']}\t{e['rows']}\n")
    return manifest


def generate(workload, seed, out_dir):
    if workload == "etl_service":
        return gen_etl(seed, out_dir)
    return gen_tables(seed, out_dir)
