"""Seeded input generators for the four benchmark workloads.

Every input the JVM harness sees is made here from the seed: page-id
windows (whose pages and gold links the product's own PagesSynth.pageAt
produces), takedown lists and the read/write op sequence, the contract
tables and per-pass query order, and the CityJSON corpus together with its
expected Error-log count. The seed itself never reaches the JVM.

The same seed gives byte-identical files; see test_gen.py.
"""
import json
import os

import numpy as np

# corpus size the page ids are drawn from (PagesSynth.pageAt(i, n) uses n
# only to size the host pool)
PAGE_CORPUS = 4_000_000

CONTRACT_QUERIES = [
    "q1_pricing", "q3_priority_revenue", "q_window_topk", "ev_sessions",
    "ev_asof_join", "ev_asof_join_native", "doc_minhash_pairs",
    "doc_simhash_pairs", "doc_dup_components", "doc_dup_components_logstar",
    "emb_knn_brute", "kg_top_entities", "kg_link_relational", "kg_bgp_star",
]

# input sizes, one place
INGEST_BATCH_PAGES = 10_000
INGEST_WINDOWS = 400
SERVE_SNAPSHOT_PAGES = 10_000
SERVE_TAKEDOWN = 20
SERVE_CYCLES = 4
CONTRACT_SF = "sf0.01"     # directory name; PagesSynth sizes kg_* pages by it
CONTRACT_SCALE = 0.01      # TPC-H-ish scale of the generated tables
CONTRACT_PASSES = 200
CJ_DOCS = 48
CJ_BUILDINGS = 3_000


def rng(seed, stream):
    """Independent generator per input stream, keyed by (seed, stream)."""
    return np.random.default_rng([int(seed), stream])


def write_json(path, obj):
    with open(path, "w") as f:
        json.dump(obj, f, sort_keys=True, separators=(",", ":"))
        f.write("\n")


# --------------------------------------------------------------- web_ingest

def web_ingest(seed, out):
    r = rng(seed, 1)
    starts = r.integers(0, PAGE_CORPUS - INGEST_BATCH_PAGES, INGEST_WINDOWS)
    write_json(os.path.join(out, "manifest.json"), {
        "workload": "web_ingest",
        "corpus": PAGE_CORPUS,
        "batch_pages": INGEST_BATCH_PAGES,
        "windows": [int(s) for s in starts],
        "serve": serve_ops(seed),
    })


# ------------------------------------------- serving, in web_ingest's trace

READ_KINDS = ["star", "chain", "lookup", "counts"]
LANGS = ["en", "de", "fr", "es", "nl"]


def serve_ops(seed):
    """One snapshot window plus an op sequence: per cycle, two groups of
    four reads (seed-shuffled kinds) each followed by a forget of a seeded
    takedown batch, then compact and expire. Takedowns never repeat a page,
    so every forget removes pages that are still present."""
    r = rng(seed, 2)
    start = int(r.integers(0, PAGE_CORPUS - SERVE_SNAPSHOT_PAGES))
    ids = start + r.permutation(SERVE_SNAPSHOT_PAGES)
    taken = 0
    ops = []
    for _ in range(SERVE_CYCLES):
        for _ in range(2):
            for kind in r.permutation(READ_KINDS):
                if kind == "star":
                    ops.append({"op": "star", "lang": LANGS[int(r.integers(0, len(LANGS)))]})
                elif kind == "chain":
                    # entity ids are power-law popular; pick from the head half
                    ops.append({"op": "chain", "entity": int(r.integers(0, 200))})
                elif kind == "lookup":
                    ops.append({"op": "lookup", "page": int(start + r.integers(0, SERVE_SNAPSHOT_PAGES))})
                else:
                    ops.append({"op": "counts"})
            if taken + SERVE_TAKEDOWN > SERVE_SNAPSHOT_PAGES // 2:
                raise ValueError("op sequence would forget half the snapshot")
            batch = ids[taken:taken + SERVE_TAKEDOWN]
            taken += SERVE_TAKEDOWN
            ops.append({"op": "forget", "pages": sorted(int(i) for i in batch)})
        ops.append({"op": "compact"})
        ops.append({"op": "expire", "keep": 2})
    return {
        "corpus": PAGE_CORPUS,
        "snapshot_start": start,
        "snapshot_pages": SERVE_SNAPSHOT_PAGES,
        "ops": ops,
    }


# ------------------------------------------------------------- contract_mix

# 400 two-syllable words: random documents rarely share a bigram, so the
# near-duplicate graph is the planted copies and nothing else
DOC_WORDS = [a + b for a in ("ka", "lo", "mi", "nu", "pe", "ra", "si", "to", "va", "ze",
                             "bo", "da", "fe", "gi", "hu", "jo", "ly", "qu", "wi", "xe")
             for b in ("n", "r", "s", "t", "l", "m", "k", "d", "p", "x",
                       "b", "g", "v", "z", "f", "h", "j", "c", "w", "y")]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
DOC_LANGS = ["en", "en", "en", "fr", "es", "zh", "de"]


def _write_table(path, cols):
    import pyarrow as pa
    import pyarrow.parquet as pq
    pq.write_table(pa.table(cols), path)


def _money(r, lo, hi, n):
    return np.round(r.uniform(lo, hi, n), 2)


def _dates(r, start, days, n):
    import pyarrow as pa
    base = np.datetime64(start, "us").astype(np.int64)
    us = base + r.integers(0, days, n) * 86_400_000_000
    return pa.array(us, type=pa.timestamp("us"))


def _documents(r, n):
    """Random word-bag documents; one in five is a near-copy (a few words
    replaced) of an earlier original, so every dedup query finds pairs and
    each near-duplicate cluster is a star around its original."""
    texts, originals = [], []
    for i in range(n):
        if originals and r.random() < 0.2:
            src = texts[originals[int(r.integers(0, len(originals)))]].split(" ")
            for _ in range(max(1, len(src) // 12)):
                src[int(r.integers(0, len(src)))] = DOC_WORDS[int(r.integers(0, len(DOC_WORDS)))]
            texts.append(" ".join(src))
        else:
            k = int(r.integers(8, 80))
            texts.append(" ".join(DOC_WORDS[j] for j in r.integers(0, len(DOC_WORDS), k)))
            originals.append(i)
    return texts


def _embeddings(r, n, dim=64, labels=10, queries=20, k=5):
    """Unit vectors around per-label centroids. The oracle ranks in float32
    (DuckDB list_cosine_similarity over FLOAT[]) and the product in double,
    so a draw whose top-(k+1) cosines for a head query sit closer than 1e-5
    is re-drawn: the order of such near-ties is float-precision noise."""
    while True:
        cent = r.normal(0, 1, (labels, dim))
        lab = r.integers(0, labels, n)
        v = cent[lab] * 0.35 + r.normal(0, 1, (n, dim))
        v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
        vd = v.astype(np.float64)
        vd /= np.linalg.norm(vd, axis=1, keepdims=True)
        ok = True
        for q in range(queries):
            c = vd @ vd[q]
            c[q] = -2
            top = np.sort(c)[::-1][:k + 1]
            if np.min(top[:-1] - top[1:]) < 1e-5:
                ok = False
                break
        if ok:
            return v, lab.astype(np.int32)


def contract_tables(seed, sfdir):
    import pyarrow as pa
    os.makedirs(sfdir, exist_ok=True)
    r = rng(seed, 3)
    s = CONTRACT_SCALE
    n_cust, n_ord, n_line = int(150_000 * s), int(1_500_000 * s), int(6_000_000 * s)
    n_ev, n_users, n_docs, n_emb = int(1_000_000 * s), int(15_000 * s), int(50_000 * s), 2000

    _write_table(os.path.join(sfdir, "customer.parquet"), {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[j] for j in r.integers(0, 5, n_cust)],
    })
    _write_table(os.path.join(sfdir, "orders.parquet"), {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": [("O", "F", "P")[j] for j in r.integers(0, 3, n_ord)],
        "o_totalprice": _money(r, 850.0, 550_000.0, n_ord),
        "o_orderdate": _dates(r, "1992-01-01", 2405, n_ord),
        "o_orderpriority": [PRIORITIES[j] for j in r.integers(0, 5, n_ord)],
    })
    qty = r.integers(1, 51, n_line).astype(np.float64)
    _write_table(os.path.join(sfdir, "lineitem.parquet"), {
        "l_orderkey": r.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": r.integers(0, int(200_000 * s), n_line).astype(np.int64),
        "l_suppkey": r.integers(0, int(10_000 * s), n_line).astype(np.int64),
        "l_linenumber": r.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": np.round(r.integers(0, 11, n_line) / 100.0, 2),
        "l_tax": np.round(r.integers(0, 9, n_line) / 100.0, 2),
        "l_returnflag": [("A", "N", "R")[j] for j in r.integers(0, 3, n_line)],
        "l_linestatus": [("O", "F")[j] for j in r.integers(0, 2, n_line)],
        "l_shipdate": _dates(r, "1992-01-02", 3650, n_line),
    })
    # strictly increasing timestamps: no two events share a ts, so the
    # as-of join has one answer per purchase
    base = np.datetime64("2024-01-01", "us").astype(np.int64)
    gaps = r.integers(1, 2 * 30 * 86_400_000_000 // n_ev, n_ev)
    _write_table(os.path.join(sfdir, "events.parquet"), {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(base + np.cumsum(gaps), type=pa.timestamp("us")),
        "user_id": r.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": [EVENT_TYPES[j] for j in r.integers(0, 5, n_ev)],
        "value": _money(r, 0.0, 200.0, n_ev),
        "props": [f'{{"k": {j}}}' for j in r.integers(0, 100, n_ev)],
    })
    texts = _documents(r, n_docs)
    _write_table(os.path.join(sfdir, "documents.parquet"), {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": [DOC_LANGS[j] for j in r.integers(0, len(DOC_LANGS), n_docs)],
        "source": [f"src{j}" for j in r.integers(0, 5, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    vecs, labels = _embeddings(r, n_emb)
    _write_table(os.path.join(sfdir, "embeddings.parquet"), {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels,
    })


def contract_mix(seed, out):
    sfdir = os.path.join(out, CONTRACT_SF)
    contract_tables(seed, sfdir)
    r = rng(seed, 4)
    order = [[CONTRACT_QUERIES[j] for j in r.permutation(len(CONTRACT_QUERIES))]
             for _ in range(CONTRACT_PASSES)]
    write_json(os.path.join(out, "manifest.json"), {
        "workload": "contract_mix",
        "sf_dir": sfdir,
        "passes": order,
    })


# --------------------------------------------------------- cityjson_convert

MATERIALS = 4
TEXTURES = 2


def _box(verts, x, y, w, d, h, z0=0):
    """8 quantized vertices of an axis-aligned box; returns their indices."""
    base = len(verts)
    for (dx, dy, dz) in ((0, 0, 0), (w, 0, 0), (w, d, 0), (0, d, 0),
                         (0, 0, h), (w, 0, h), (w, d, h), (0, d, h)):
        verts.append([x + dx, y + dy, z0 + dz])
    return base


def _box_faces(b):
    """Six one-loop faces: ground, roof, four walls (semantic 0, 1, 2)."""
    faces = [[[b + 0, b + 3, b + 2, b + 1]], [[b + 4, b + 5, b + 6, b + 7]],
             [[b + 0, b + 1, b + 5, b + 4]], [[b + 1, b + 2, b + 6, b + 5]],
             [[b + 2, b + 3, b + 7, b + 6]], [[b + 3, b + 0, b + 4, b + 7]]]
    return faces, [0, 1, 2, 2, 2, 2]


def _groups(keys, textured):
    """Face groups of one surface set = distinct (semantic, material,
    texture) keys; an untextured group logs one Error."""
    groups = {}
    for k, t in zip(keys, textured):
        groups[k] = t
    return sum(1 for t in groups.values() if not t)


def _cityjson_doc(r, n_buildings, doc_no, largest):
    """One document; the largest is always textured and uses a template, so
    its cost (the straggler task) does not flip with the seed."""
    verts, objects, errors = [], {}, 0
    textured_doc = largest or r.random() < 0.5
    has_template = largest or r.random() < 0.5
    for b in range(n_buildings):
        x, y = int(r.integers(0, 10**6)), int(r.integers(0, 10**6))
        w, d, h = (int(v) for v in r.integers(4000, 30000, 3))
        base = _box(verts, x, y, w, d, h)
        faces, sem = _box_faces(base)
        mat = [int(r.integers(0, MATERIALS))] * 2 + [int(r.integers(0, MATERIALS))] * 4
        geom = {
            "type": "Solid", "lod": "2", "boundaries": [faces],
            "semantics": {"surfaces": [{"type": "GroundSurface"}, {"type": "RoofSurface"},
                                       {"type": "WallSurface", "slope": float(r.integers(0, 90))}],
                          "values": [sem]},
            "material": {"visual": {"values": [mat]}},
        }
        textured = [False] * 6
        if textured_doc and r.random() < 0.6:
            tex = int(r.integers(0, TEXTURES))
            vals = []
            for f in range(6):
                if f >= 2 and r.random() < 0.3:
                    vals.append([[None]])
                else:
                    vals.append([[tex, 0, 1, 2, 3]])
                    textured[f] = True
            geom["texture"] = {"winter": {"values": [vals]}}
        keys = [(sem[f], mat[f], textured[f]) for f in range(6)]
        errors += _groups(keys, textured)
        bid = f"B{doc_no}-{b}"
        attrs = {
            "measuredHeight": round(h / 1000.0, 3),
            "storeysAboveGround": int(r.integers(1, 30)),
            "roofType": ("flat", "gabled", "hipped")[int(r.integers(0, 3))],
            "isHeritage": bool(r.random() < 0.1),
            "yearOfConstruction": int(r.integers(1700, 2024)),
            "footprint": [round(w / 1000.0, 3), round(d / 1000.0, 3)],
        }
        obj = {"type": "Building", "attributes": attrs, "geometry": [geom]}
        if r.random() < 0.3:
            pid = bid + "-P"
            pb = _box(verts, x, y, w // 2, d // 2, h // 3, h)
            pfaces, _ = _box_faces(pb)
            objects[pid] = {"type": "BuildingPart", "parents": [bid],
                            "attributes": {"function": "annex"},
                            "geometry": [{"type": "MultiSurface", "lod": "1",
                                          "boundaries": pfaces[1:]}]}
            errors += 1  # one untextured, unsemantic face group
            obj["children"] = [pid]
        objects[bid] = obj
        if has_template and r.random() < 0.2:
            ins = len(verts)
            verts.append([x - 500, y - 500, 0])
            m = [1.0, 0.0, 0.0, 0.0, 0.0, 1.0, 0.0, 0.0, 0.0, 0.0, 1.0, 0.0, 0.0, 0.0, 0.0, 1.0]
            objects[bid + "-T"] = {"type": "SolitaryVegetationObject",
                                   "attributes": {"species": "tilia"},
                                   "geometry": [{"type": "GeometryInstance", "template": 0,
                                                 "boundaries": [ins], "transformationMatrix": m}]}
    doc = {
        "type": "CityJSON", "version": "1.1",
        "transform": {"scale": [0.001, 0.001, 0.001], "translate": [84000.0, 446000.0, 0.0]},
        "metadata": {"referenceSystem": "https://www.opengis.net/def/crs/EPSG/0/7415"},
        "CityObjects": objects,
        "vertices": verts,
        "appearance": {
            "materials": [{"name": f"mat{i}", "ambientIntensity": 0.2 + 0.1 * i,
                           "diffuseColor": [0.1 * i, 0.5, 0.9 - 0.1 * i],
                           "transparency": 0.0, "isSmooth": False} for i in range(MATERIALS)],
            "textures": [{"type": "JPG" if i == 0 else "PNG", "image": f"tex{i}.jpg"}
                         for i in range(TEXTURES)],
            "vertices-texture": [[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 1.0]],
        },
    }
    if any(k.endswith("-T") for k in objects):
        doc["geometry-templates"] = {
            "templates": [{"type": "MultiSurface", "lod": "2",
                           "boundaries": [[[0, 1, 2]], [[0, 2, 3]], [[0, 3, 1]], [[1, 3, 2]]]}],
            "vertices-templates": [[0.0, 0.0, 0.0], [2.0, 0.0, 0.0], [0.0, 2.0, 0.0], [0.0, 0.0, 6.0]],
        }
        errors += 1  # the template's single untextured face group, converted once
    return json.dumps(doc, separators=(",", ":")), errors


def _doc_sizes(r):
    """Heavy-tailed building counts: one document holds ~3/4 of the corpus
    (as DenHaag_01 holds 79% of the golden set's triples); the rest are
    Pareto-sized."""
    big = int(CJ_BUILDINGS * 0.75)
    tail = r.pareto(1.2, CJ_DOCS - 1) + 1.0
    tail = np.maximum(1, np.round(tail / tail.sum() * (CJ_BUILDINGS - big))).astype(int)
    sizes = [big] + [int(t) for t in tail]
    order = r.permutation(len(sizes))
    return [sizes[i] for i in order]


def cityjson_convert(seed, out):
    r = rng(seed, 5)
    errors = 0
    with open(os.path.join(out, "corpus.jsonl"), "w") as f:
        sizes = _doc_sizes(r)
        for i, n in enumerate(sizes):
            text, e = _cityjson_doc(r, n, i, n == max(sizes))
            errors += e
            f.write(json.dumps({"doc_iri": f"cj:doc{i:03d}", "json": text}, separators=(",", ":")))
            f.write("\n")
    write_json(os.path.join(out, "manifest.json"), {
        "workload": "cityjson_convert",
        "corpus": os.path.join(out, "corpus.jsonl"),
        "docs": CJ_DOCS,
        "expected_error_logs": errors,
    })


GENERATORS = {
    "web_ingest": web_ingest,
    "contract_mix": contract_mix,
    "cityjson_convert": cityjson_convert,
}


def generate(workload, seed, out):
    os.makedirs(out, exist_ok=True)
    GENERATORS[workload](seed, out)
