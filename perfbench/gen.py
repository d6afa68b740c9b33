"""Seeded input generator for the benchmark.

Every table is written in the schema the library's loaders expect
(`graft.Tables` for the star/doc/vector tables, `SongAnalytics.songSchema`
and `logSchema` for the song/log JSON). The same seed always yields the same
bytes; a different seed yields different rows of the same size and shape, so
run-to-run timing differences come from the host, not from the input size.

    python3 perfbench/gen.py <out_dir> <seed> [scale [parts]]
"""
import json
import os
import sys
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts at scale 1: the sf0.1 star and corpus tables (lineitem is
# about four lines per order). The warm-up input uses a fraction of these.
SIZES = {
    "customer": 15000, "supplier": 1000, "part": 20000, "orders": 150000,
    "events": 100000, "users": 1500, "documents": 5000, "embeddings": 2000,
    "songs": 1500, "logs": 6000,
    # llm_data serving: probes and mutation batches
    "probe_vecs": 64, "arrival_vecs": 20, "delete_vecs": 8,
}
# Tables written as a directory of this many parquet files (at least the
# session's cores), so their scans run one task per core.
SPLIT = ("orders", "lineitem", "events", "documents", "embeddings")
SERVE_PASSES = 12     # llm_data passes the mutation batches allow
ZIPF_S = 1.1          # fact-key skew (o_custkey, l_partkey, events.user_id)
DUP_SHARE = 0.08      # exact duplicates of an earlier document
NEAR_SHARE = 0.08     # near-duplicates: an earlier document with a few edits
SELECTIVE_SHARE = 0.10  # documents carrying rare, selective terms
ARRIVAL_ID_BASE = 10_000_000  # arrival vec_ids never collide with the corpus
PROBE_ID_BASE = 20_000_000    # nor do probe query ids

VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
RARE = [f"{a}{b}" for a in ("zor", "quax", "blen", "trim", "vosk", "nule")
        for b in ("ab", "ic", "on", "us", "eth", "ira")]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD", "FURNITURE"]
PTYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
ADJ = ["blue", "hot", "small", "old", "red", "cold", "new", "large"]
NOUN = ["bolt", "gear", "anvil", "ring", "widget", "rod", "plate", "gizmo"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
ETYPES = ["click", "signup", "error", "view", "purchase"]
LANGS = ["en", "de", "fr", "es", "zh"]


def zipf_keys(rng, n_keys, size):
    """Keys in [0, n_keys) with a Zipf(ZIPF_S) popularity over a seeded
    permutation, so the hot keys differ per seed."""
    w = 1.0 / np.arange(1, n_keys + 1) ** ZIPF_S
    perm = rng.permutation(n_keys)
    return perm[rng.choice(n_keys, size=size, p=w / w.sum())].astype(np.int64)


def write(table, path, parts=1):
    """One parquet file at `path`; a SPLIT table (by file name) is instead
    a directory of `parts` files of consecutive row ranges."""
    if parts <= 1 or os.path.basename(path).removesuffix(".parquet") not in SPLIT:
        pq.write_table(table, path, compression="snappy")
        return
    os.makedirs(path)
    n = table.num_rows
    for i in range(parts):
        lo, hi = n * i // parts, n * (i + 1) // parts
        pq.write_table(table.slice(lo, hi - lo), f"{path}/part-{i:05d}.parquet",
                       compression="snappy")


def days(k):
    return np.asarray(k).astype("timedelta64[D]")


def star(rng, n, out, parts):
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    write(pa.table({"r_regionkey": pa.array(range(5), i32),
                    "r_name": pa.array(REGIONS, s)}), f"{out}/region.parquet", parts)
    write(pa.table({"n_nationkey": pa.array(range(25), i32),
                    "n_name": pa.array([f"NATION_{k}" for k in range(25)], s),
                    "n_regionkey": pa.array([k % 5 for k in range(25)], i32)}),
          f"{out}/nation.parquet", parts)
    c = n["customer"]
    write(pa.table({
        "c_custkey": pa.array(np.arange(c), i64),
        "c_name": pa.array([f"Customer#{k:09d}" for k in range(c)], s),
        "c_nationkey": pa.array(rng.integers(0, 25, c), i32),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, c), 2), f64),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, c), s)}),
        f"{out}/customer.parquet", parts)
    sp = n["supplier"]
    write(pa.table({
        "s_suppkey": pa.array(np.arange(sp), i64),
        "s_name": pa.array([f"Supplier#{k:09d}" for k in range(sp)], s),
        "s_nationkey": pa.array(rng.integers(0, 25, sp), i32),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, sp), 2), f64)}),
        f"{out}/supplier.parquet", parts)
    p = n["part"]
    price = np.round(900.0 + (np.arange(p) % 1000) / 10.0, 1)
    write(pa.table({
        "p_partkey": pa.array(np.arange(p), i64),
        "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, p), rng.integers(0, 8, p))], s),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, p)], s),
        "p_type": pa.array(rng.choice(PTYPES, p), s),
        "p_size": pa.array(rng.integers(1, 51, p), i32),
        "p_retailprice": pa.array(price, f64)}), f"{out}/part.parquet", parts)
    o = n["orders"]
    odate = np.datetime64("1995-01-01", "us") + days(rng.integers(0, 2404, o))
    write(pa.table({
        "o_orderkey": pa.array(np.arange(o), i64),
        "o_custkey": pa.array(zipf_keys(rng, c, o), i64),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], o), s),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, o), 2), f64),
        "o_orderdate": pa.array(odate, ts),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, o), s)}),
        f"{out}/orders.parquet", parts)
    lines = rng.integers(1, 8, o)
    lok = np.repeat(np.arange(o), lines)
    lnum = np.arange(len(lok)) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    nl = len(lok)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    lpart = zipf_keys(rng, p, nl)
    ship = odate[lok] + days(rng.integers(1, 122, nl))
    write(pa.table({
        "l_orderkey": pa.array(lok, i64),
        "l_partkey": pa.array(lpart, i64),
        "l_suppkey": pa.array(rng.integers(0, sp, nl), i64),
        "l_linenumber": pa.array(lnum, i32),
        "l_quantity": pa.array(qty, f64),
        "l_extendedprice": pa.array(np.round(qty * price[lpart], 2), f64),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0, f64),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl), s),
        "l_linestatus": pa.array(rng.choice(["F", "O"], nl), s),
        "l_shipdate": pa.array(ship, ts)}), f"{out}/lineitem.parquet", parts)
    e = n["events"]
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, e))
    write(pa.table({
        "event_id": pa.array(np.arange(e), i64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + offs.astype("timedelta64[us]"), ts),
        "user_id": pa.array(zipf_keys(rng, n["users"], e), i64),
        "event_type": pa.array(rng.choice(ETYPES, e), s),
        "value": pa.array(np.round(rng.uniform(0.01, 500.0, e), 2), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)], s)}),
        f"{out}/events.parquet", parts)
    return {"lineitem_rows": nl, "orders_rows": o, "events_rows": e}


def doc_texts(rng, count):
    """`count` documents; a DUP_SHARE of them copy an earlier text, a
    NEAR_SHARE copy one with a few word edits, and a SELECTIVE_SHARE carry
    rare terms. Returns (texts, kinds)."""
    texts, kinds, pool = [], [], []
    for i in range(count):
        u = rng.random()
        if pool and u < DUP_SHARE:
            t, kind = pool[rng.integers(len(pool))], "dup"
        elif pool and u < DUP_SHARE + NEAR_SHARE:
            w = pool[rng.integers(len(pool))].split()
            for j in rng.choice(len(w), size=max(1, len(w) // 20), replace=False):
                w[j] = VOCAB[rng.integers(len(VOCAB))]
            t, kind = " ".join(w), "near"
        else:
            w = list(rng.choice(VOCAB, rng.integers(20, 90)))
            kind = "plain"
            if u > 1.0 - SELECTIVE_SHARE:
                for j in rng.choice(len(w), size=3, replace=False):
                    w[j] = RARE[rng.integers(len(RARE))]
                kind = "selective"
            t = " ".join(w)
        texts.append(t)
        kinds.append(kind)
        pool.append(t)
    return texts, kinds


def docs_table(rng, ids, texts):
    k = len(ids)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, k), pa.string()),
        "source": pa.array([f"src{j}" for j in rng.integers(0, 20, k)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def vectors(rng, centers, count):
    lab = rng.integers(0, len(centers), count)
    v = centers[lab] + rng.normal(0.0, 0.6, (count, centers.shape[1]))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v.astype(np.float32), lab.astype(np.int32)


def emb_table(ids, vecs, labels):
    return pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


def corpus(rng, n, out, parts):
    d = n["documents"]
    texts, kinds = doc_texts(rng, d)
    write(docs_table(rng, np.arange(d), texts), f"{out}/documents.parquet", parts)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs, labels = vectors(rng, centers, n["embeddings"])
    write(emb_table(np.arange(n["embeddings"]), vecs, labels),
          f"{out}/embeddings.parquet", parts)
    return kinds, centers


def serve_inputs(rng, n, out, centers):
    """llm_data serving inputs: probe vectors, and per pass one arrival batch
    and one delete batch. Arrival ids start at ARRIVAL_ID_BASE, disjoint
    from the corpus; deletes name corpus ids, each at most once. The
    schedule gives each pass its two probe queries."""
    os.makedirs(out, exist_ok=True)
    qv, ql = vectors(rng, centers, n["probe_vecs"])
    write(emb_table(PROBE_ID_BASE + np.arange(n["probe_vecs"]), qv, ql),
          f"{out}/probe_vecs.parquet")
    for b in range(SERVE_PASSES):
        v, lab = vectors(rng, centers, n["arrival_vecs"])
        nid = ARRIVAL_ID_BASE + b * n["arrival_vecs"]
        write(emb_table(np.arange(nid, nid + n["arrival_vecs"]), v, lab),
              f"{out}/arrive_vecs_{b}.parquet")
    dv = rng.permutation(n["embeddings"])
    k = n["delete_vecs"]
    for b in range(SERVE_PASSES):
        write(pa.table({"vec_id": pa.array(np.sort(dv[b * k:(b + 1) * k]), pa.int64())}),
              f"{out}/delete_vecs_{b}.parquet")
    with open(f"{out}/schedule.txt", "w") as f:
        for p in range(SERVE_PASSES):
            a, b = rng.integers(n["probe_vecs"], size=2)
            f.write(f"{p} {a} {b}\n")


def songs_logs(rng, n, out):
    ns, nl = n["songs"], n["logs"]
    n_art = max(1, ns // 3)
    art = rng.integers(0, n_art, ns)
    with open(f"{out}/songs.json", "w") as f:
        for i in range(ns):
            a = int(art[i])
            has_geo = rng.random() < 0.6
            f.write(json.dumps({
                "num_songs": 1, "artist_id": f"AR{a:06d}",
                "artist_latitude": round(float(rng.uniform(-60, 60)), 3) if has_geo else None,
                "artist_longitude": round(float(rng.uniform(-150, 150)), 3) if has_geo else None,
                "artist_location": f"City {a % 97}", "artist_name": f"Artist {a}",
                "song_id": f"SO{i:08d}", "title": f"Song {int(rng.integers(0, ns))}",
                "duration": round(float(rng.uniform(60, 600)), 3),
                "year": int(rng.choice([0, 1990, 1995, 2000, 2005, 2010]))}) + "\n")
    users = 120
    ts0 = 1541105830796
    levels = rng.choice(["free", "paid"], users)
    with open(f"{out}/logs.json", "w") as f:
        for i in range(nl):
            u = int(zipf_keys(rng, users, 1)[0])
            anon = rng.random() < 0.03
            page = "NextSong" if rng.random() < 0.8 else str(rng.choice(["Home", "Logout", "Settings"]))
            level = str(levels[u]) if rng.random() < 0.85 else str(rng.choice(["free", "paid"]))
            f.write(json.dumps({
                "artist": f"Artist {int(rng.integers(0, n_art + n_art // 5))}",
                "auth": "Logged In", "firstName": f"First{u}", "gender": "MF"[u % 2],
                "itemInSession": int(rng.integers(0, 100)), "lastName": f"Last{u}",
                "length": round(float(rng.uniform(60, 600)), 5), "level": level,
                "location": f"Town {u % 31}", "method": "PUT", "page": page,
                "registration": float(1540000000000 + u * 1000),
                "sessionId": int(rng.integers(0, 800)),
                "song": f"Song {int(rng.integers(0, ns))}", "status": "200",
                "ts": str(ts0 + int(rng.integers(0, 30 * 86400 * 1000))),
                "userAgent": "Mozilla/5.0", "userId": "" if anon else str(u)}) + "\n")


def dir_bytes(path):
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(path) for f in fs)


def generate(out, seed, scale=1.0, parts=4):
    """Write one workload input tree under `out`, the SPLIT tables as
    `parts` files each; return its measured properties (rows, bytes,
    shares)."""
    n = {k: max(2, int(round(v * scale))) for k, v in SIZES.items()}
    rng = np.random.default_rng([seed, int(scale * 1000)])
    data, serve, json_dir = f"{out}/data", f"{out}/serve", f"{out}/json"
    for p in (data, serve, json_dir):
        os.makedirs(p, exist_ok=True)
    props = star(rng, n, data, parts)
    kinds, centers = corpus(rng, n, data, parts)
    serve_inputs(rng, n, serve, centers)
    songs_logs(rng, n, json_dir)
    d = len(kinds)
    props.update({
        "documents": d, "embeddings": n["embeddings"],
        "dup_share": round(kinds.count("dup") / d, 4),
        "near_dup_share": round(kinds.count("near") / d, 4),
        "selective_share": round(kinds.count("selective") / d, 4),
        "songs": n["songs"], "logs": n["logs"],
        "data_bytes": dir_bytes(data), "corpus_bytes":
            dir_bytes(f"{data}/documents.parquet") + dir_bytes(f"{data}/embeddings.parquet"),
        "json_bytes": dir_bytes(json_dir), "serve_bytes": dir_bytes(serve)})
    return props


if __name__ == "__main__":
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]),
                              float(sys.argv[3]) if len(sys.argv) > 3 else 1.0,
                              int(sys.argv[4]) if len(sys.argv) > 4 else 4)))
