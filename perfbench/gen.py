"""Seeded inputs for the workloads and for the stream phase of a traced
curate_batch run.

Every choice comes from random.Random seeded with a string built from the
seed and the row key, so one seed gives the same inputs in every process.
Posts are reddit-shaped (the Ingest.ingest input: id, source, title, selftext,
removed_by_category, created_utc, url). Their text is the vendored sf0.1
`documents` text fanned out by ScaleUp's rule (copy i shifts doc_id by
i * stride and salts every 4th word with "·i", so copies are not near
duplicates of each other), plus seeded cashtags and seeded shares of removed,
exact-duplicate and near-duplicate posts. query_mix's corpus is sf0.01
perturbed by CorpusB's rules (see gen_corpus).

    python3 perfbench/gen.py --workload curate_batch --seed 1 --out DIR \
        --curate-posts 15000 --stream-files 200 --posts-per-file 20
"""
import argparse
import hashlib
import json
import math
import os
import random
import re
import sys
from datetime import datetime, timezone

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

STOP_TICKERS = ("DD", "ARE")
UNIVERSE_SIZE = 556
BASE_EPOCH = 1700000000
SPAN_S = 3 * 86400  # inside the stream's 7-day dedup horizon
PLACEHOLDER = 0.02
REMOVED = 0.04
UNKNOWN = 0.03
STOP = 0.04
EXACT_DUP = 0.05
NEAR_DUP = 0.05
HISTORY = 0.03
HISTORY_EXTRA = 20000
DUP_ID_OFFSET = 1_000_000_000
NEAR_ID_OFFSET = 2_000_000_000
SERVING_ID_BASE = 5_000_000_000
SERVING_POSTS = 1000
POST_FILES = 8
WARM_STREAM_FILES = 10

POST_SCHEMA = pa.schema([
    ("id", pa.string()), ("source", pa.string()), ("title", pa.string()),
    ("selftext", pa.string()), ("removed_by_category", pa.string()),
    ("created_utc", pa.int64()), ("url", pa.string())])

SERVING_SCHEMA = pa.schema([
    ("unique_identifier", pa.string()), ("text_hash", pa.string()),
    ("source", pa.string()), ("title", pa.string()), ("text", pa.string()),
    ("tickers", pa.list_(pa.string())), ("time", pa.timestamp("us", tz="UTC")),
    ("sector", pa.int64()), ("level", pa.string())])


def universe(seed):
    """~556 distinct 2-5 letter symbols (never a stop ticker) with 8-digit
    ICB codes (industry, supersector, sector, subsector), and 6-letter
    symbols that are outside the universe by length."""
    r = random.Random(f"universe:{seed}")

    def word(n):
        return "".join(chr(65 + r.randrange(26)) for _ in range(n))
    syms = {}
    while len(syms) < UNIVERSE_SIZE:
        s = word(2 + r.randrange(4))
        if s not in STOP_TICKERS:
            syms.setdefault(s, None)
    symbols = [(s, (10 + 5 * r.randrange(12)) * 1_000_000 + (10 + 10 * r.randrange(3)) * 10_000
                + (10 + 10 * r.randrange(2)) * 100 + (10 + 5 * r.randrange(3))) for s in syms]
    unknown = sorted({word(6) for _ in range(64)})
    return symbols, unknown


def documents(data_dir):
    path = os.path.join(data_dir, "sf0.1", "documents.parquet")
    return duckdb.sql(f"SELECT doc_id, text FROM '{path}' ORDER BY doc_id").fetchall()


def rendered_hash(title, selftext):
    """The ingest dedup identity: md5 of title and body joined by a space."""
    return hashlib.md5(f"{title} {selftext}".encode()).hexdigest()


def posts(docs, seed, n, first_copy, id_base, uni):
    """`n` base posts from ScaleUp copies first_copy.. of the documents, then
    their seeded exact and near duplicates. Returns (all rows, base rows,
    per-base-row meta: chosen tickers, validity, history membership, count
    of near duplicates)."""
    symbols, unknown = uni
    stride = 1
    while stride <= max(d for d, _ in docs):
        stride *= 10
    base, exact, near, meta = [], [], [], []
    for c in range(math.ceil(n / len(docs))):
        i = first_copy + c
        for doc_id, text in docs[: n - c * len(docs)]:
            pidx = doc_id + i * stride
            if i:
                text = " ".join(w + f"·{i}" if j % 4 == 0 else w
                                for j, w in enumerate(text.split(" ")))
            r = random.Random(f"post:{seed}:{pidx}")
            placeholder = r.random() < PLACEHOLDER
            removed = r.random() < REMOVED
            created = BASE_EPOCH + int(r.random() * SPAN_S)
            if r.random() < UNKNOWN:
                tickers = []
                tags = "$" + unknown[r.randrange(len(unknown))]
            else:
                tickers = [symbols[r.randrange(len(symbols))][0]
                           for _ in range(1 + r.randrange(3))]
                tags = " ".join("$" + t for t in tickers)
            x = r.random()
            stop = " DD" if x < STOP / 2 else " $ARE" if x < STOP else ""
            title = " ".join(text.split(" ")[:6])
            body = "[removed]" if placeholder else f"{text} {tags}{stop}"
            pid = str(id_base + pidx)
            row = {"id": pid, "source": "reddit", "title": title, "selftext": body,
                   "removed_by_category": "moderator" if removed else None,
                   "created_utc": created}
            base.append(row)
            meta.append({"tickers": tickers, "valid": not (placeholder or removed) and tickers,
                         "history": r.random() < HISTORY})
            if r.random() < EXACT_DUP:
                exact.append({**row, "id": str(id_base + DUP_ID_OFFSET + pidx),
                              "created_utc": created + 3600})
            if r.random() < NEAR_DUP:
                near.append({**row, "id": str(id_base + NEAR_ID_OFFSET + pidx),
                             "selftext": body + " indeed", "created_utc": created + 7200})
    rows = base + exact + near
    for row in rows:
        row["url"] = "https://www.reddit.com/comments/" + row["id"]
    return rows, base, meta, len(near)


def properties(rows, n_near):
    """Measured input properties of a generated post set."""
    n = len(rows)
    cashtag = re.compile(r"\$([A-Za-z]+)")
    stop = re.compile(r"(^|[^A-Za-z])(DD|ARE)([^A-Za-z]|$)")
    return {
        "posts": n,
        "removed_share": sum(1 for p in rows if p["removed_by_category"] is not None
                             or p["selftext"] in ("[removed]", "unknown")) / n,
        "exact_dup_share": 1 - len({rendered_hash(p["title"], p["selftext"]) for p in rows}) / n,
        "near_dup_share": n_near / n,
        "tickers_per_post": sum(len(cashtag.findall(p["selftext"])) for p in rows) / n,
        "stop_ticker_share": sum(1 for p in rows if stop.search(p["selftext"])) / n,
    }


def write_parquet(rows, schema, path, parts=1):
    """One file, or a directory of `parts` files so Spark reads in parallel."""
    table = pa.Table.from_pylist(rows, schema=schema)
    if parts == 1:
        pq.write_table(table, path)
        return
    os.makedirs(path, exist_ok=True)
    step = math.ceil(len(rows) / parts)
    for k in range(parts):
        pq.write_table(table.slice(k * step, step), os.path.join(path, f"part-{k:05d}.parquet"))


def gen_curate(out, seed, data_dir, n_posts):
    uni = universe(seed)
    docs = documents(data_dir)
    rows, base, meta, n_near = posts(docs, seed, n_posts, 0, 0, uni)
    os.makedirs(out, exist_ok=True)
    write_parquet(rows, POST_SCHEMA, os.path.join(out, "posts.parquet"), parts=POST_FILES)
    history = [{"text_hash": rendered_hash(p["title"], p["selftext"])}
               for p, m in zip(base, meta) if m["history"]]
    history += [{"text_hash": hashlib.md5(f"history-{seed}-{i}".encode()).hexdigest()}
                for i in range(HISTORY_EXTRA)]
    write_parquet(history, pa.schema([("text_hash", pa.string())]),
                  os.path.join(out, "history.parquet"))
    write_parquet([{"ticker_symbol": s, "icb_code": c} for s, c in uni[0]],
                  pa.schema([("ticker_symbol", pa.string()), ("icb_code", pa.int64())]),
                  os.path.join(out, "universe.parquet"))
    # yesterday's serving rows: later ScaleUp copies under another seed, so
    # the serving table the pass upserts into already has rows
    copies = math.ceil(n_posts / len(docs))
    _, ybase, ymeta, _ = posts(docs, seed + 1, SERVING_POSTS, copies, SERVING_ID_BASE, uni)
    serving, seen = [], set()
    for p, m in zip(ybase, ymeta):
        h = rendered_hash(p["title"], p["selftext"])
        if m["valid"] and h not in seen:
            seen.add(h)
            serving.append({"unique_identifier": p["id"], "text_hash": h, "source": p["source"],
                            "title": p["title"], "text": p["selftext"],
                            "tickers": sorted(set(m["tickers"])),
                            "time": datetime.fromtimestamp(p["created_utc"], timezone.utc),
                            "sector": None, "level": None})
    os.makedirs(os.path.join(out, "serving_seed"), exist_ok=True)
    write_parquet(serving, SERVING_SCHEMA, os.path.join(out, "serving_seed", "part-0.parquet"))
    return properties(rows, n_near)


def write_files(rows, seed, n_files, stage):
    """Split posts into n_files JSON-lines files f00000.json.. by a seeded
    hash of the post id."""
    files = [[] for _ in range(n_files)]
    for p in rows:
        k = int(hashlib.md5(f"file:{seed}:{p['id']}".encode()).hexdigest()[:8], 16)
        files[k % n_files].append(p)
    os.makedirs(stage, exist_ok=True)
    for i, ps in enumerate(files):
        with open(os.path.join(stage, f"f{i:05d}.json"), "w") as f:
            for p in ps:
                f.write(json.dumps(p, ensure_ascii=False) + "\n")
    return files


def gen_stream(out, seed, data_dir, n_files, per_file):
    uni = universe(seed)
    docs = documents(data_dir)
    rows, _, _, n_near = posts(docs, seed, n_files * per_file, 0, 0, uni)
    os.makedirs(out, exist_ok=True)
    files = write_files(rows, seed, n_files, os.path.join(out, "stage"))
    warm, _, _, _ = posts(docs, seed + 1, WARM_STREAM_FILES * per_file, 40, SERVING_ID_BASE, uni)
    write_files(warm, seed + 1, WARM_STREAM_FILES, os.path.join(out, "warm_stage"))
    write_parquet([{"ticker_symbol": s, "icb_code": c} for s, c in uni[0]],
                  pa.schema([("ticker_symbol", pa.string()), ("icb_code", pa.int64())]),
                  os.path.join(out, "universe.parquet"))
    return {**properties(rows, n_near), "files": n_files}


# CorpusB's key columns per table (graft.CorpusB.keyCols); one XOR constant
# remaps every one, so foreign keys still join.
CORPUS_KEYS = {
    "region": ["r_regionkey"], "nation": ["n_nationkey", "n_regionkey"],
    "customer": ["c_custkey", "c_nationkey"], "supplier": ["s_suppkey", "s_nationkey"],
    "part": ["p_partkey"], "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"], "events": ["event_id", "user_id"],
    "documents": ["doc_id"], "embeddings": ["vec_id"]}
CORPUS_TIMES = {"events": "ts", "orders": "o_orderdate", "lineitem": "l_shipdate"}
CORPUS_DROPPABLE = {"lineitem", "events", "documents", "embeddings"}
CORPUS_FILES = 4


def gen_corpus(out, seed, data_dir):
    """sf0.01 under graft.CorpusB's perturbation rules, with the seed: every
    key XOR-remapped by one 30-bit constant, a seeded 7% of fact rows
    dropped, timestamps moved +26 h, a seeded 10% of documents given one
    more token, rows rewritten in hash order over four files. The seeded
    draws are md5-based here (CorpusB uses Spark's xxhash64), and this runs
    in DuckDB in about a second where CorpusB's Spark job takes ~15 s."""
    k = (seed * 2654435761) & 0x3FFFFFFF
    con = duckdb.connect()

    def draw(col, salt, mod):
        return f"(('0x' || substr(md5({col}::VARCHAR || ':{seed + salt}'), 1, 8))::BIGINT % {mod})"
    for t, keys in CORPUS_KEYS.items():
        src = os.path.join(data_dir, "sf0.01", f"{t}.parquet")
        types = {r[0]: r[1] for r in con.execute(f"DESCRIBE SELECT * FROM '{src}'").fetchall()}
        exprs = []
        for c in types:
            if c in keys:
                e = f"xor({c}, {k}::{types[c]})"
            elif c == CORPUS_TIMES.get(t):
                e = f"{c} + INTERVAL 26 HOUR"
            elif t == "documents" and c == "text":
                e = f"CASE WHEN {draw('doc_id', 2, 10)} = 0 THEN text || ' zb{seed}' ELSE text END"
            elif t == "documents" and c == "n_chars":
                e = (f"CASE WHEN {draw('doc_id', 2, 10)} = 0 THEN length(text || ' zb{seed}') "
                     f"ELSE length(text) END::BIGINT")
            else:
                e = c
            exprs.append(f"{e} AS {c}")
        where = f"WHERE {draw(keys[0], 1, 100)} >= 7" if t in CORPUS_DROPPABLE else ""
        d = os.path.join(out, f"{t}.parquet")
        os.makedirs(d, exist_ok=True)
        for part in range(CORPUS_FILES):
            con.execute(
                f"COPY (SELECT {', '.join(exprs)} FROM '{src}' {where} "
                f"{'AND' if where else 'WHERE'} {draw(keys[0], 3, CORPUS_FILES)} = {part} "
                f"ORDER BY md5({keys[0]}::VARCHAR)) TO '{d}/part-{part:05d}.parquet' (FORMAT parquet)")
    con.close()
    return {}


def generate(workload, out, seed, data_dir, curate_posts, stream_files, per_file):
    """Write the workload's inputs under `out`; returns their measured
    properties."""
    if workload == "curate_batch":
        return gen_curate(out, seed, data_dir, curate_posts)
    if workload == "stream_ingest":
        return gen_stream(out, seed, data_dir, stream_files, per_file)
    return gen_corpus(os.path.join(out, "corpus"), seed, data_dir)


def digest(out):
    """sha256 over every generated file's path and bytes."""
    h = hashlib.sha256()
    for d, _, fs in sorted(os.walk(out)):
        for f in sorted(fs):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, out).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--data", default=os.path.join(os.path.dirname(os.path.abspath(__file__)), "data"))
    # sizes come from the caller (run.py states them), so they have no default
    ap.add_argument("--curate-posts", type=int, required=True)
    ap.add_argument("--stream-files", type=int, required=True)
    ap.add_argument("--posts-per-file", type=int, required=True)
    a = ap.parse_args()
    props = generate(a.workload, a.out, a.seed, a.data, a.curate_posts,
                     a.stream_files, a.posts_per_file)
    json.dump({"properties": props, "digest": digest(a.out)}, sys.stdout, sort_keys=True)
    print()


if __name__ == "__main__":
    main()
