"""Seeded input generation for the benchmark.

Everything the program sees is made here from the workload seed: the
`layers` GeoParquet corpus the serve workloads search, the request streams,
and the small TPC-H-shaped tables the batch queries read. The same seed gives
byte-identical files; each purpose draws from its own stream
(`default_rng([seed, STREAM])`), so changing one generator does not shift
another's draws. The one draw that does not follow the seed is the open
loop's arrival times (see `mixed_stream`).
"""
import json
import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# one vocabulary for every text field, the sf tables' word-salad convention
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "dup",
         "fast", "filter", "group", "hash", "join", "key", "line", "merge",
         "order", "part", "query", "row", "scan", "slow", "small", "sort",
         "spark", "stream", "table", "the", "value", "vector", "window"]

# skewed layer-type mix, about 60% "Feature Layer"
TYPES = ["Feature Layer", "Raster Layer", "Table", "Group Layer",
         "Map Service", "Image Service", "Feature Service"]
TYPE_P = [0.60, 0.12, 0.10, 0.08, 0.05, 0.03, 0.02]

CONUS = (-125.0, 24.0, -66.0, 50.0)  # lon/lat box the layer extents sit in
WORLD_SHARE = 0.01                   # layers whose extent is the whole world
EMB_DIM = 1024

S_CORPUS, S_MIXED, S_PAGING, S_BATCH, S_WARM, S_ARRIVALS, S_CAPACITY = 1, 2, 3, 4, 5, 6, 7
# mixed_stream's request prefixes: the timed open loop, the warm-up, the capacity phase
MIXED_STREAMS = {"r": S_MIXED, "w": S_WARM, "c": S_CAPACITY}


def _rng(seed, stream):
    return np.random.default_rng([seed, stream])


def _words(rng, lo, hi):
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), rng.integers(lo, hi + 1)))


def _texts(rng, n, lo, hi):
    """n word-salad strings of lo..hi words, drawn in two vector calls."""
    lens = rng.integers(lo, hi + 1, n)
    words = np.array(VOCAB)[rng.integers(0, len(VOCAB), int(lens.sum()))]
    return [" ".join(ws) for ws in np.split(words, np.cumsum(lens)[:-1])]


def corpus(seed, rows):
    """The synthetic `layers` corpus as columns.

    Returns a dict: the GeoParquet columns plus `bbox` (rows x 4 float64) and
    `emb` (rows x 1024 float32), which the result check ranks against.
    """
    rng = _rng(seed, S_CORPUS)
    ids = [f"{a:08x}-{b:04x}-4{c:03x}-{d:04x}-{e:012x}" for a, b, c, d, e in zip(
        rng.integers(0, 2**32, rows), rng.integers(0, 2**16, rows),
        rng.integers(0, 2**12, rows), rng.integers(0, 2**16, rows),
        rng.integers(0, 2**48, rows))]
    assert len(set(ids)) == rows, "id collision; change the seed"
    types = np.array(TYPES)[rng.choice(len(TYPES), rows, p=TYPE_P)].tolist()
    names = [n.title() for n in _texts(rng, rows, 2, 4)]
    # descriptions: empty, or one of three HTML shapes
    shape = rng.integers(0, 4, rows)
    a, b, c = _texts(rng, rows, 5, 20), _texts(rng, rows, 1, 3), _texts(rng, rows, 3, 12)
    descs = [("", f"<p>{a[i]} <b>{b[i]}</b> {c[i]}</p>",
              f"<div><p>{a[i]}</p><p>{c[i]} <a href=\"https://data.example.gov/{i}\">{b[i]}</a></p></div>",
              f"<p>{c[i]} {a[i]}</p>")[shape[i]] for i in range(rows)]
    urls = [f"https://gis{i % 97}.example.gov/arcgis/rest/services/{n.replace(' ', '_')}/MapServer/{i}"
            for i, n in enumerate(names)]
    fields = _texts(rng, rows, 2, 6)
    metas = [f"url: {u}\nname: {n}\ntype: {t}\ndescription: {d}\nfields: {f}"
             for u, n, t, d, f in zip(urls, names, types, descs, fields)]
    # log-normal extents over CONUS, plus ~1% world-extent layers
    cx = rng.uniform(CONUS[0], CONUS[2], rows)
    cy = rng.uniform(CONUS[1], CONUS[3], rows)
    w = np.clip(rng.lognormal(np.log(1.5), 1.0, rows), 0.01, 40.0)
    h = np.clip(rng.lognormal(np.log(1.0), 1.0, rows), 0.01, 25.0)
    bbox = np.stack([cx - w / 2, cy - h / 2, cx + w / 2, cy + h / 2], axis=1)
    world = rng.random(rows) < WORLD_SHARE
    bbox[world] = (-180.0, -90.0, 180.0, 90.0)
    emb = rng.standard_normal((rows, EMB_DIM), dtype=np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    return {"id": ids, "name": names, "type": types, "description": descs,
            "url": urls, "metadata_text": metas, "bbox": bbox, "emb": emb}


def _rect_wkbs(bbox):
    """Little-endian WKB Polygons, one closed 5-point ring per bbox row."""
    x0, y0, x1, y1 = bbox.T
    ring = np.stack([x0, y0, x1, y0, x1, y1, x0, y1, x0, y0], axis=1).astype("<f8")
    head = np.frombuffer(struct.pack("<BIII", 1, 3, 1, 5), np.uint8)
    buf = np.concatenate([np.broadcast_to(head, (len(bbox), head.size)),
                          ring.view(np.uint8).reshape(len(bbox), -1)], axis=1)
    return [r.tobytes() for r in buf]


def write_corpus(c, path):
    """Write the corpus as a single-file GeoParquet (WKB `geometry` + `geo` footer)."""
    rows = len(c["id"])
    dim = c["emb"].shape[1]
    emb = pa.FixedSizeListArray.from_arrays(pa.array(c["emb"].reshape(-1)), dim)
    geo = {"version": "1.0.0", "primary_column": "geometry",
           "columns": {"geometry": {"encoding": "WKB", "geometry_types": ["Polygon"],
                                    "bbox": [float(c["bbox"][:, 0].min()), float(c["bbox"][:, 1].min()),
                                             float(c["bbox"][:, 2].max()), float(c["bbox"][:, 3].max())]}}}
    table = pa.table({
        "id": c["id"], "name": c["name"], "type": c["type"],
        "description": c["description"], "url": c["url"],
        "metadata_text": c["metadata_text"],
        "embeddings": emb.cast(pa.list_(pa.field("element", pa.float32(), nullable=False))),
        "geometry": pa.array(_rect_wkbs(c["bbox"]), pa.binary()),
    }).replace_schema_metadata({"geo": json.dumps(geo)})
    # several row groups so the server's scan splits across cores
    pq.write_table(table, path, row_group_size=max(1, rows // 16), compression="snappy")


def write_sidecar(c, out_dir):
    """The corpus as the result check reads it: raw float32 embeddings plus
    the text fields and extents as JSON."""
    c["emb"].astype("<f4").tofile(f"{out_dir}/emb.f32")
    meta = {k: c[k] for k in ("id", "name", "type", "description", "url", "metadata_text")}
    meta["dim"] = int(c["emb"].shape[1])
    meta["bbox"] = c["bbox"].reshape(-1).tolist()
    with open(f"{out_dir}/meta.json", "w") as f:
        json.dump(meta, f)


def _request(rng, seed, tag, typed, point):
    """One seeded /search request body (without skip/limit); `point` is
    None, 4326 or 3857."""
    # the trailing token makes every request_string distinct
    req = {"request_string": f"{_words(rng, 3, 12)} s{seed}{tag}"}
    if typed:
        probes = [TYPES[k] for k in rng.choice(len(TYPES), rng.integers(1, 3), p=TYPE_P, replace=False)]
        probes = [p.lower() if rng.random() < 0.5 else p.upper() for p in probes]
        if rng.random() < 0.2:
            probes.append("")  # empty probes are dropped by the engine
        req["type_filter"] = probes
    if point == 3857:
        # EPSG:3857 metres that pass the raw +-180/+-90 range check
        req["input_point"] = {"longitude": float(rng.uniform(-180, 180)),
                              "latitude": float(rng.uniform(-90, 90)), "epsg": 3857}
    elif point == 4326:
        req["input_point"] = {"longitude": float(rng.uniform(CONUS[0] + 5, CONUS[2] - 5)),
                              "latitude": float(rng.uniform(CONUS[1] + 3, CONUS[3] - 3))}
    return req


def _exact(rng, n, shares):
    """n labels in a seeded order with exact counts: each label's share of
    `shares` [(label, share)], rounded by largest remainder."""
    raw = [(lab, sh * n) for lab, sh in shares]
    counts = [int(x) for _, x in raw]
    for k in sorted(range(len(raw)), key=lambda k: int(raw[k][1]) - raw[k][1])[:n - sum(counts)]:
        counts[k] += 1
    labels = [lab for (lab, _), c in zip(raw, counts) for _ in range(c)]
    return [labels[k] for k in rng.permutation(n)]


def _mix(rng, n, p_type, p_point, p_3857=0.06, p_mcp=0.25):
    """(typed, point, via) for n requests with the shares fixed exactly, so
    every seed offers the same filter mix; the order is seeded."""
    filters = _exact(rng, n, [((True, True), p_type * p_point),
                              ((True, False), p_type * (1 - p_point)),
                              ((False, True), (1 - p_type) * p_point),
                              ((False, False), (1 - p_type) * (1 - p_point))])
    points = iter(_exact(rng, sum(1 for _, pt in filters if pt),
                         [(3857, p_3857), (4326, 1 - p_3857)]))
    vias = _exact(rng, n, [("mcp", p_mcp), ("http", 1 - p_mcp)])
    return [(t, next(points) if pt else None, v) for (t, pt), v in zip(filters, vias)]


def request_classes(body, via, paging):
    """The run record's request classes: one of plain, type, point-4326 or
    point-3857, plus paged or deep in a paging session, plus mcp."""
    p = body.get("input_point")
    if p is not None:
        out = ["point-3857" if p.get("epsg", 4326) == 3857 else "point-4326"]
    else:
        out = ["type" if "type_filter" in body else "plain"]
    if paging:
        out.append("deep" if body["skip"] > DEEP_SKIP[0] - 1 else "paged")
    if via == "mcp":
        out.append("mcp")
    return out


def mixed_stream(seed, rate_rps, seconds, prefix="r"):
    """Open-loop stream: (due_s, via, body) at `rate_rps` over [0, seconds).

    The arrival times are one Poisson realization conditioned on
    round(rate * seconds) arrivals (sorted uniform times), drawn from a
    fixed stream, so every seed offers the same bursts; the requests
    themselves, their order and their filter mix come from the seed."""
    n = max(1, round(rate_rps * seconds))
    due = np.sort(_rng(0, S_ARRIVALS).uniform(0.0, seconds, n))
    rng = _rng(seed, MIXED_STREAMS[prefix])
    out = []
    for i, (typed, point, via) in enumerate(_mix(rng, n, p_type=0.5, p_point=0.6)):
        body = _request(rng, seed, f"{prefix}{i}", typed, point)
        body["skip"] = int(rng.integers(0, 41))
        body["limit"] = int(rng.integers(1, 11))
        out.append((float(due[i]), via, body))
    return out


def warmup_stream(seed, n, deep=False):
    """Warm-up requests: n shallow ones in the mixed stream's mix; with
    `deep`, every sixteenth is a deep page, so that the deep-skip path is
    compiled before timing as well."""
    out = mixed_stream(seed, 1.0, n, prefix="w")
    if deep:
        for k in range(15, n, 16):
            out[k][2]["skip"] = DEEP_SKIP[0] + (k * 997) % (DEEP_SKIP[1] - DEEP_SKIP[0])
    return out


PAGE_SKIPS = list(range(0, 50, 10))
DEEP_SKIP = (1000, 5000)  # beyond Search.DeepSkipThreshold


def paging_sessions(seed, n):
    """Closed-loop sessions: a list of (via, [bodies in page order]).

    A session fixes one request, fetches pages skip = 0, 10, .., 40 with
    limit 10, then one deep page, which takes the deep-skip path. The filter
    mix over the n sessions is exact."""
    rng = _rng(seed, S_PAGING)
    out = []
    for s, (typed, point, via) in enumerate(_mix(rng, n, p_type=0.5, p_point=0.3)):
        base = _request(rng, seed, f"p{s}", typed, point)
        pages = [dict(base, skip=k, limit=10) for k in PAGE_SKIPS]
        pages.append(dict(base, skip=int(rng.integers(DEEP_SKIP[0], DEEP_SKIP[1] + 1)), limit=10))
        out.append((via, pages))
    return out


def batch_tables(seed, out_dir, sf):
    """The TPC-H-shaped tables the batch query list reads, one parquet each,
    at scale factor `sf` (0.1 gives 5,000 documents and 15,000 customers).

    Schemas and shapes follow the repository's test data: word-salad
    documents with ~5% planted near-duplicates, 64-dim label-clustered
    L2-normalized embeddings, and customer/supplier key tables.
    """
    rng = _rng(seed, S_BATCH)
    docs, embs = int(50_000 * sf), int(20_000 * sf)
    customers, suppliers = int(150_000 * sf), int(10_000 * sf)
    write = lambda name, t: pq.write_table(t, f"{out_dir}/{name}.parquet")
    write("customer", pa.table({
        "c_custkey": pa.array(range(customers), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(customers)],
        "c_nationkey": pa.array(rng.integers(0, 25, customers), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-1000, 10000, customers), 2),
        "c_mktsegment": np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY",
                                  "HOUSEHOLD"])[rng.integers(0, 5, customers)]}))
    write("supplier", pa.table({
        "s_suppkey": pa.array(range(suppliers), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(suppliers)],
        "s_nationkey": pa.array(rng.integers(0, 25, suppliers), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-1000, 10000, suppliers), 2)}))
    texts = [_words(rng, 10, 100) for _ in range(docs)]
    for _ in range(docs // 20):  # near-duplicates: 1-2 word substitutions
        tgt, src = int(rng.integers(0, docs)), int(rng.integers(0, docs))
        if src != tgt:
            w = texts[src].split(" ")
            for _ in range(int(rng.integers(1, 3))):
                w[int(rng.integers(0, len(w)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts[tgt] = " ".join(w)
    for _ in range(max(1, docs // 600)):  # exact copies
        tgt, src = int(rng.integers(0, docs)), int(rng.integers(0, docs))
        if src != tgt:
            texts[tgt] = texts[src]
    write("documents", pa.table({
        "doc_id": pa.array(range(docs), pa.int64()),
        "text": texts,
        "lang": np.array(["en", "fr", "es", "de", "zh"])[
            rng.choice(5, docs, p=[0.42, 0.145, 0.145, 0.145, 0.145])],
        "source": [f"src{s}" for s in rng.integers(0, 20, docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}))
    centers = rng.normal(0, 1, (10, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, 10, embs)
    vecs = centers[labels] * 2.0 + rng.normal(0, 1, (embs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    write("embeddings", pa.table({
        "vec_id": pa.array(range(embs), pa.int64()),
        "embedding": pa.array(vecs.tolist(), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())}))
