"""Input generation for the graft benchmark.

Everything the benchmark feeds the program is made here from a seed:

* ``tables``: an sf0.1-shaped copy of the TPC-H-ish testdata layout
  (TESTDATA.md): region, nation, customer, supplier, part, orders,
  lineitem, events and documents, one single-row-group parquet file each.
  It is built from a fixed data seed, so every run queries the same
  tables; the interactive query texts vary with the run's seed instead.
* ``corpus``: the refresh workload's snapshots. A documents corpus scaled
  up from sf0.1 with planted near-duplicates, and an events stream; round
  ``r`` is round ``r - 1`` after a seeded churn of added, removed and
  edited rows.
* ``cold_doc``: the reference's bench_cold record set (FIXTURES.md §4),
  8,000 records with 3..7 items each, values drawn from the seed.
"""

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a the data query row stream spark line small fast group customer "
         "batch sort value hash filter big dup part column order scan slow "
         "agg key window table merge vector join").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "PROMO", "MEDIUM"]
PART_WORDS = ["large", "hot", "ring", "bolt", "cold", "steel", "blue", "nut"]

DATA_SEED = 42
SF = 0.1

# refresh corpus make-up (README.md records these)
CORPUS_DOC_SCALE = 0.75       # documents: 0.75 x sf0.1 = 3,750 rows
CORPUS_EVENT_SCALE = 0.5      # events: 0.5 x sf0.1 = 50,000 rows
PLANTED_SHARE = 0.02          # near-duplicate copies planted in the base
CHURN_ADD = 0.02              # per round, of the current corpus
CHURN_REMOVE = 0.02
CHURN_EDIT = 0.03


def _write(table, path):
    tmp = path + ".tmp"
    pq.write_table(table, tmp, row_group_size=1 << 30)
    os.replace(tmp, path)


def _ts(base, offsets_us):
    return pa.array(np.datetime64(base, "us") + offsets_us.astype("timedelta64[us]"),
                    pa.timestamp("us"))


def _texts(rng, n, lo=8, hi=100):
    lens = rng.integers(lo, hi, n)
    idx = rng.integers(0, len(VOCAB), int(lens.sum()))
    out, pos = [], 0
    for ln in lens:
        out.append(" ".join(VOCAB[i] for i in idx[pos:pos + ln]))
        pos += ln
    return out


def _documents(rng, n, id0=0):
    text = _texts(rng, n)
    return {
        "doc_id": np.arange(id0, id0 + n, dtype=np.int64),
        "text": text,
        "lang": [LANGS[i] for i in rng.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(id0, id0 + n)],
    }


def _doc_table(cols):
    return pa.table({
        "doc_id": pa.array(cols["doc_id"], pa.int64()),
        "text": pa.array(cols["text"], pa.string()),
        "lang": pa.array(cols["lang"], pa.string()),
        "source": pa.array(cols["source"], pa.string()),
        "n_chars": pa.array([len(t) for t in cols["text"]], pa.int64()),
    })


def _events(rng, n, id0=0, t0_us=0):
    gaps = rng.integers(1, 50_000_000, n)  # ~25 s apart on average
    return {
        "event_id": np.arange(id0, id0 + n, dtype=np.int64),
        "ts_us": t0_us + np.cumsum(gaps),
        "user_id": rng.integers(0, 1500, n).astype(np.int64),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n)],
        "value": np.round(rng.uniform(0, 560, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    }


def _event_table(cols):
    return pa.table({
        "event_id": pa.array(cols["event_id"], pa.int64()),
        "ts": _ts("2024-01-01", np.asarray(cols["ts_us"])),
        "user_id": pa.array(cols["user_id"], pa.int64()),
        "event_type": pa.array(cols["event_type"], pa.string()),
        "value": pa.array(cols["value"], pa.float64()),
        "props": pa.array(cols["props"], pa.string()),
    })


def tables(out):
    """The interactive workload's sf0.1-shaped tables (fixed data seed)."""
    if os.path.exists(os.path.join(out, "_done")):
        return out
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(DATA_SEED)
    n_cust, n_supp, n_part = int(150_000 * SF), int(10_000 * SF), int(200_000 * SF)
    n_ord, n_li = int(1_500_000 * SF), int(6_000_000 * SF)
    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        f"{out}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        f"{out}/nation.parquet")
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]}),
        f"{out}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)}),
        f"{out}/supplier.parquet")
    w = rng.integers(0, len(PART_WORDS), (n_part, 2))
    _write(pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{PART_WORDS[a]} {PART_WORDS[b]}" for a, b in w],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)}),
        f"{out}/part.parquet")
    day_us = 86_400_000_000
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("O", "P", "F")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, n_ord) * day_us),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]}),
        f"{out}/orders.parquet")
    flags = [("A", "O"), ("N", "F"), ("N", "O"), ("A", "F"), ("R", "O"), ("R", "F")]
    fl = rng.integers(0, 6, n_li)
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [flags[i][0] for i in fl],
        "l_linestatus": [flags[i][1] for i in fl],
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2499, n_li) * day_us)}),
        f"{out}/lineitem.parquet")
    _write(_event_table(_events(rng, int(1_000_000 * SF))), f"{out}/events.parquet")
    _write(_doc_table(_documents(rng, int(50_000 * SF))), f"{out}/documents.parquet")
    open(os.path.join(out, "_done"), "w").close()
    return out


def _near_dup(rng, text):
    """A near-duplicate of `text`: one word swapped for another."""
    words = text.split(" ")
    i = int(rng.integers(0, len(words)))
    words[i] = VOCAB[(VOCAB.index(words[i]) + 1 + int(rng.integers(0, len(VOCAB) - 1)))
                     % len(VOCAB)]
    return " ".join(words)


def corpus(out, seed, rounds):
    """Snapshots 0..rounds of the refresh corpus, one parquet file per
    table per round under ``out/r<k>/``; snapshot 0 is the base corpus.
    Returns the snapshot dirs."""
    dirs = [os.path.join(out, f"r{k}") for k in range(rounds + 1)]
    if all(os.path.exists(os.path.join(d, "_done")) for d in dirs):
        return dirs
    rng = np.random.default_rng([seed, 7])
    n_doc = int(50_000 * SF * CORPUS_DOC_SCALE)
    docs = _documents(rng, n_doc)
    planted = rng.choice(n_doc, int(n_doc * PLANTED_SHARE), replace=False)
    for j in planted:  # copy an earlier document, then nudge one word
        src = int(rng.integers(0, n_doc))
        docs["text"][j] = _near_dup(rng, docs["text"][src])
    doc_rows = {int(i): (docs["text"][k], docs["lang"][k], docs["source"][k])
                for k, i in enumerate(docs["doc_id"])}
    next_doc = n_doc
    cols = _events(rng, int(1_000_000 * SF * CORPUS_EVENT_SCALE))
    ev, next_ev, last_ts = _event_table(cols), len(cols["event_id"]), int(cols["ts_us"][-1])
    for k, d in enumerate(dirs):
        if k > 0:
            ids = np.array(sorted(doc_rows))
            for i in rng.choice(ids, int(len(ids) * CHURN_REMOVE), replace=False):
                del doc_rows[int(i)]
            ids = np.array(sorted(doc_rows))
            for i in rng.choice(ids, int(len(ids) * CHURN_EDIT), replace=False):
                t, lang, src = doc_rows[int(i)]
                doc_rows[int(i)] = (" ".join(t.split(" ") + _texts(rng, 1, 2, 6)), lang, src)
            add = _documents(rng, int(len(ids) * CHURN_ADD), next_doc)
            ids = np.array(sorted(doc_rows))
            for j in range(len(add["doc_id"])):
                if j % 4 == 0:  # a quarter of the new rows near-duplicate old ones
                    add["text"][j] = _near_dup(rng, doc_rows[int(rng.choice(ids))][0])
                doc_rows[int(add["doc_id"][j])] = (add["text"][j], add["lang"][j],
                                                   add["source"][j])
            next_doc += len(add["doc_id"])
            keep = np.ones(ev.num_rows, dtype=bool)
            keep[rng.choice(ev.num_rows, int(ev.num_rows * CHURN_REMOVE), replace=False)] = False
            ev = ev.filter(pa.array(keep))
            edit = np.zeros(ev.num_rows, dtype=bool)
            edit[rng.choice(ev.num_rows, int(ev.num_rows * CHURN_EDIT), replace=False)] = True
            value = ev.column("value").to_numpy()
            ev = ev.set_column(ev.schema.get_field_index("value"), "value",
                               pa.array(np.where(edit, np.round(value + 1.25, 2), value)))
            cols = _events(rng, int(ev.num_rows * CHURN_ADD), next_ev, last_ts)
            ev = pa.concat_tables([ev, _event_table(cols)])
            next_ev, last_ts = next_ev + len(cols["event_id"]), int(cols["ts_us"][-1])
        os.makedirs(d, exist_ok=True)
        ids = sorted(doc_rows)
        _write(_doc_table({"doc_id": np.array(ids, dtype=np.int64),
                           "text": [doc_rows[i][0] for i in ids],
                           "lang": [doc_rows[i][1] for i in ids],
                           "source": [doc_rows[i][2] for i in ids]}),
               f"{d}/documents.parquet")
        _write(ev, f"{d}/events.parquet")
        open(os.path.join(d, "_done"), "w").close()
    return dirs


CITIES = ["Tokyo", "Berlin", "Paris", "Austin", "Toronto", "Oslo", "Lima", "Cairo"]


def cold_doc(path, seed):
    """The bench_cold record set: {"data": [8,000 records]}; returns the
    parsed document (the JSON text is written to `path`). Scores and item
    prices are distinct, so every sort in the query set has one answer."""
    rng = np.random.default_rng([seed, 11])
    n = 8000
    n_items = rng.integers(3, 8, n)
    cents = 999 + rng.permutation(int(n_items.sum()))
    scores = rng.permutation(n)
    data, j = [], 0
    for i in range(n):
        items = []
        for _ in range(int(n_items[i])):
            items.append({"sku": f"S{int(rng.integers(0, 9973))}",
                          "qty": int(rng.integers(1, 6)),
                          "price": int(cents[j]) / 100})
            j += 1
        data.append({
            "id": i,
            "user": {"name": f"u{i}", "age": int(rng.integers(20, 70)),
                     "addr": {"city": CITIES[int(rng.integers(0, 8))],
                              "zip": f"z{int(rng.integers(0, 1000))}"}},
            "items": items,
            "tags": [f"t{int(rng.integers(0, 11))}" for _ in range(3)],
            "active": bool(rng.integers(0, 3) == 0),
            "score": int(scores[i]),
        })
    doc = {"data": data}
    if not os.path.exists(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(doc, f, separators=(",", ":"))
        os.replace(tmp, path)
    return doc
