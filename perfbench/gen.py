"""Seeded input generators for the benchmark.

Every input the engine sees is made here from the run's seed: the same
seed writes byte-identical parquet files. Shapes follow the engine's
fixture schemas (FIXTURES.md) so `graft.sources.Tables` loads them as-is.

Documents follow the model ScaleProbe uses for the fixtures: a dense 31-word
vocabulary, 10-100 words per document, an en-skewed language mix, and
near-duplicates made by copying an earlier document. The rates are
NEAR_DUP_RATE (copy of an earlier document with " dup" appended, the
fixtures' own near-dup marker), MUTATE_RATE (copy with one word
substituted) and EXACT_DUP_RATE (verbatim copy).
"""
import datetime as dt
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("join hash row batch scan customer column filter small slow merge "
         "order vector line data table agg value key stream window spark a "
         "group part big sort query fast the").split()
LANGS = (("en", 41), ("zh", 15), ("fr", 15), ("es", 15), ("de", 14))
NEAR_DUP_RATE = 0.05
MUTATE_RATE = 0.01
EXACT_DUP_RATE = 0.002
INGEST_DOCS = 100


def _lang(rnd):
    r = rnd.randrange(100)
    for name, share in LANGS:
        if r < share:
            return name
        r -= share
    return LANGS[-1][0]


def documents(seed, n):
    """`n` document rows with ids 0..n-1. A duplicate copies an earlier
    document, as re-crawled content does."""
    rnd = random.Random(f"docs-{seed}")
    texts, rows = [], []
    for i in range(n):
        r = rnd.random()
        if texts and r < NEAR_DUP_RATE:
            text = rnd.choice(texts) + " dup"
        elif texts and r < NEAR_DUP_RATE + MUTATE_RATE:
            words = rnd.choice(texts).split(" ")
            words[rnd.randrange(len(words))] = rnd.choice(VOCAB)
            text = " ".join(words)
        elif texts and r < NEAR_DUP_RATE + MUTATE_RATE + EXACT_DUP_RATE:
            text = rnd.choice(texts)
        else:
            text = " ".join(rnd.choice(VOCAB)
                            for _ in range(rnd.randint(10, 100)))
        texts.append(text)
        rows.append({"doc_id": i, "text": text, "lang": _lang(rnd),
                     "source": f"src{i % 20}", "n_chars": len(text)})
    return rows


DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                        ("lang", pa.string()), ("source", pa.string()),
                        ("n_chars", pa.int64())])


def write(rows, schema, path):
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), path)


def _day(rnd, lo, hi):
    start = dt.datetime(lo, 1, 1)
    return start + dt.timedelta(days=rnd.randrange((dt.datetime(hi, 1, 1) - start).days))


def catalog_tables(seed, out_dir):
    """The ten catalog tables at the fixtures' smallest scale (orders
    1,500, lineitem 6,000, events 1,000, documents and embeddings 500),
    one parquet file each under `out_dir`, and under `out_dir/ingest` a
    batch of INGEST_DOCS more documents with the searches to run on it."""
    rnd = random.Random(f"tables-{seed}")
    ts = pa.timestamp("us")
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    tables = {
        "region": ([{"r_regionkey": i, "r_name": n} for i, n in enumerate(regions)],
                   [("r_regionkey", pa.int32()), ("r_name", pa.string())]),
        "nation": ([{"n_nationkey": i, "n_name": f"NATION_{i}", "n_regionkey": i % 5}
                    for i in range(25)],
                   [("n_nationkey", pa.int32()), ("n_name", pa.string()),
                    ("n_regionkey", pa.int32())]),
        "supplier": ([{"s_suppkey": i, "s_name": f"Supplier#{i:09d}",
                       "s_nationkey": rnd.randrange(25),
                       "s_acctbal": round(rnd.uniform(500, 6100), 2)} for i in range(10)],
                     [("s_suppkey", pa.int64()), ("s_name", pa.string()),
                      ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())]),
        "customer": ([{"c_custkey": i, "c_name": f"Customer#{i:09d}",
                       "c_nationkey": rnd.randrange(25),
                       "c_acctbal": round(rnd.uniform(-999, 9999), 2),
                       "c_mktsegment": rnd.choice(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD",
                                                   "BUILDING", "FURNITURE"])}
                      for i in range(150)],
                     [("c_custkey", pa.int64()), ("c_name", pa.string()),
                      ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                      ("c_mktsegment", pa.string())]),
    }
    adjectives = "small blue cold large old new hot red".split()
    nouns = "widget rod bolt anvil ring plate gear gizmo".split()
    tables["part"] = (
        [{"p_partkey": i, "p_name": f"{rnd.choice(adjectives)} {rnd.choice(nouns)}",
          "p_brand": f"Brand#{rnd.randrange(1, 26)}",
          "p_type": rnd.choice(["ECONOMY", "LARGE", "STANDARD", "MEDIUM", "SMALL", "PROMO"]),
          "p_size": rnd.randint(1, 50), "p_retailprice": round(900 + (i % 200) / 10, 2)}
         for i in range(200)],
        [("p_partkey", pa.int64()), ("p_name", pa.string()), ("p_brand", pa.string()),
         ("p_type", pa.string()), ("p_size", pa.int32()), ("p_retailprice", pa.float64())])
    tables["orders"] = (
        [{"o_orderkey": i, "o_custkey": rnd.randrange(150),
          "o_orderstatus": rnd.choice("FOP"),
          "o_totalprice": round(rnd.uniform(1000, 500000), 2),
          "o_orderdate": _day(rnd, 1995, 2001),
          "o_orderpriority": rnd.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                         "4-NOT SPECIFIED", "5-LOW"])}
         for i in range(1500)],
        [("o_orderkey", pa.int64()), ("o_custkey", pa.int64()), ("o_orderstatus", pa.string()),
         ("o_totalprice", pa.float64()), ("o_orderdate", ts), ("o_orderpriority", pa.string())])
    tables["lineitem"] = (
        [{"l_orderkey": rnd.randrange(1500), "l_partkey": rnd.randrange(200),
          "l_suppkey": rnd.randrange(10), "l_linenumber": rnd.randint(1, 7),
          "l_quantity": float(rnd.randint(1, 50)),
          "l_extendedprice": round(rnd.uniform(900, 105000), 2),
          "l_discount": rnd.randint(0, 10) / 100, "l_tax": rnd.randint(0, 8) / 100,
          "l_returnflag": rnd.choice("ANR"), "l_linestatus": rnd.choice("OF"),
          "l_shipdate": _day(rnd, 1995, 2002)}
         for _ in range(6000)],
        [("l_orderkey", pa.int64()), ("l_partkey", pa.int64()), ("l_suppkey", pa.int64()),
         ("l_linenumber", pa.int32()), ("l_quantity", pa.float64()),
         ("l_extendedprice", pa.float64()), ("l_discount", pa.float64()),
         ("l_tax", pa.float64()), ("l_returnflag", pa.string()),
         ("l_linestatus", pa.string()), ("l_shipdate", ts)])
    # events: 1,000 rows over 2024-01-01..30, ordered by event_id
    t0 = dt.datetime(2024, 1, 1)
    offsets = sorted(rnd.randrange(30 * 86400 * 10**6) for _ in range(1000))
    tables["events"] = (
        [{"event_id": i, "ts": t0 + dt.timedelta(microseconds=o),
          "user_id": rnd.randrange(15),
          "event_type": rnd.choice(["view", "click", "purchase", "signup", "error"]),
          "value": round(rnd.uniform(0, 330), 2), "props": f'{{"k": {rnd.randrange(100)}}}'}
         for i, o in enumerate(offsets)],
        [("event_id", pa.int64()), ("ts", ts), ("user_id", pa.int64()),
         ("event_type", pa.string()), ("value", pa.float64()), ("props", pa.string())])
    tables["embeddings"] = (
        [{"vec_id": i, "embedding": [rnd.gauss(0, 0.125) for _ in range(64)],
          "label": rnd.randrange(10)} for i in range(500)],
        [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())), ("label", pa.int32())])
    for name, (rows, schema) in tables.items():
        write(rows, pa.schema(schema), f"{out_dir}/{name}.parquet")
    # the documents table, then a batch of later documents to land in its
    # index, and the searches to run once the batch is in: one BM25, one
    # phrase (two adjacent words of a batch document, so it has a hit) and
    # one prefix search
    docs = documents(seed, 500 + INGEST_DOCS)
    write(docs[:500], DOC_SCHEMA, f"{out_dir}/documents.parquet")
    os.makedirs(f"{out_dir}/ingest", exist_ok=True)
    write(docs[500:], DOC_SCHEMA, f"{out_dir}/ingest/documents.parquet")
    words = rnd.choice(docs[500:])["text"].split(" ")
    i = rnd.randrange(len(words) - 1)
    with open(f"{out_dir}/ingest/searches.txt", "w") as f:
        f.write(f"bm25 {' '.join(rnd.sample(VOCAB, 2))}\n"
                f"phrase {words[i]} {words[i + 1]}\n"
                f"prefix {rnd.choice(VOCAB)[:2]}\n")

