"""Expected answers, computed apart from graft, and the checks that
compare graft's outputs with them.

* interactive: each template's DuckDB SQL twin over the same parquet.
* interactive's ``doc.*`` ops: each query's Python twin over the same
  parsed document.
* refresh: DuckDB twins for the jetro pipelines and the snapshot diff; a
  Python replay of the xxhash64 MinHash + LSH pipeline for the near-dup
  pairs; properties for sequence packing (every sequence but the last
  holds exactly the budget, and the sequences concatenate back to the
  input token stream).

Rebuild every expected answer for a seed (written as JSON under
``.bench_work/expected/<workload>-seed<n>/``)::

    python3 perfbench/expected.py --seed 7
"""

import argparse
import glob
import json
import math
import os
import struct
from decimal import ROUND_HALF_UP, Decimal

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import gen
import workloads as W

# ------------------------------------------------------------ compare


def _close(a, b):
    if isinstance(a, bool) or isinstance(b, bool):
        return a == b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        if isinstance(a, int) and isinstance(b, int):
            return a == b
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(_close(a[k], b[k]) for k in a)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    return a == b


def _canon(v):
    """Sort key for unordered comparison (floats rounded)."""
    if isinstance(v, float):
        return repr(round(v, 6))
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(v[k])}" for k in sorted(v)) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return repr(v)


def same_rows(got, want, ordered):
    if not ordered:
        got, want = sorted(got, key=_canon), sorted(want, key=_canon)
    return _close(got, want)


# --------------------------------------------------------- interactive


class Interactive:
    def __init__(self, data_dir):
        self.con = duckdb.connect()
        self.con.execute("SET TimeZone = 'UTC'")
        for t in ["region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem", "events", "documents"]:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                             f"read_parquet('{data_dir}/{t}.parquet')")

    def answer(self, sql):
        cur = self.con.execute(sql)
        cols = [d[0] for d in cur.description]
        return [dict(zip(cols, [_plain(v) for v in row])) for row in cur.fetchall()]

    @staticmethod
    def check(got, want, ordered):
        """`got` is graft's answer, a list of row objects; it may carry
        columns the twin does not name (they are ignored)."""
        if want and got and isinstance(got[0], dict):
            got = [{k: r.get(k) for k in want[0]} for r in got]
        return same_rows(got, want, ordered)


def _plain(v):
    if isinstance(v, Decimal):
        return float(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


# ---------------------------------------------------------------- doc


def doc_answer(doc, fn, params):
    return fn(doc["data"], params)


def doc_check(got, want):
    if isinstance(want, dict) and isinstance(got, dict):
        return _close(dict(sorted(got.items())), dict(sorted(want.items())))
    return _close(got, want)


# ------------------------------------------------------------ refresh

M64 = (1 << 64) - 1
P1, P2, P3 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9
P4, P5 = 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5
SEED = 42


def _rotl(x, r):
    return ((x << r) | (x >> (64 - r))) & M64


def _fmix(h):
    h ^= h >> 33
    h = (h * P2) & M64
    h ^= h >> 29
    h = (h * P3) & M64
    h ^= h >> 32
    return h


def xx_long(v, seed):
    """XXH64 of one 8-byte little-endian long (Spark's hashLong)."""
    h = (seed + P5 + 8) & M64
    k = (_rotl((v & M64) * P2 & M64, 31) * P1) & M64
    h ^= k
    h = (_rotl(h, 27) * P1 + P4) & M64
    return _fmix(h)


def xx_int(v, seed):
    """XXH64 of one 4-byte int (Spark's hashInt)."""
    h = (seed + P5 + 4) & M64
    h ^= ((v & 0xFFFFFFFF) * P1) & M64
    h = (_rotl(h, 23) * P2 + P3) & M64
    return _fmix(h)


def xx_bytes(b, seed):
    """XXH64 of a byte string (Spark's hashUnsafeBytes)."""
    n, i = len(b), 0
    if n >= 32:
        v = [(seed + P1 + P2) & M64, (seed + P2) & M64, seed & M64, (seed - P1) & M64]
        while i <= n - 32:
            for j in range(4):
                w = struct.unpack_from("<Q", b, i)[0]
                v[j] = (_rotl((v[j] + w * P2) & M64, 31) * P1) & M64
                i += 8
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & M64
        for x in v:
            h ^= (_rotl((x * P2) & M64, 31) * P1) & M64
            h = (h * P1 + P4) & M64
    else:
        h = (seed + P5) & M64
    h = (h + n) & M64
    while i <= n - 8:
        w = struct.unpack_from("<Q", b, i)[0]
        h ^= (_rotl((w * P2) & M64, 31) * P1) & M64
        h = (_rotl(h, 27) * P1 + P4) & M64
        i += 8
    if i <= n - 4:
        w = struct.unpack_from("<I", b, i)[0]
        h ^= (w * P1) & M64
        h = (_rotl(h, 23) * P2 + P3) & M64
        i += 4
    while i < n:
        h ^= (b[i] * P5) & M64
        h = (_rotl(h, 11) * P1) & M64
        i += 1
    return _fmix(h)


_TOK, _GRAM, _SETS, _KEYS = {}, {}, {}, {}  # memos: token, gram, text -> grams, keys


def _grams(text):
    """Distinct word-3-gram hashes of `text` (Text.gramHashes)."""
    if text in _SETS:
        return _SETS[text]
    th = []
    for w in text.split():
        h = _TOK.get(w)
        if h is None:
            h = _TOK[w] = xx_bytes(w.encode(), SEED)
        th.append(h)
    gs = set()
    for key in zip(th, th[1:], th[2:]):
        g = _GRAM.get(key)
        if g is None:
            a, b, c = key
            g = _GRAM[key] = xx_long(c, xx_long(xx_long(b, xx_long(a, SEED)), SEED))
        gs.add(g)
    _SETS[text] = gs
    return gs


def _np_rotl(x, r):
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _np_fmix(h):
    h ^= h >> np.uint64(33)
    h *= np.uint64(P2)
    h ^= h >> np.uint64(29)
    h *= np.uint64(P3)
    h ^= h >> np.uint64(32)
    return h


def _np_lanes(grams, k):
    """hashInt(i, hashLong(g, 42)) for i < k over an array of gram
    hashes, as signed longs (numpy uint64 arithmetic wraps like the JVM's)."""
    with np.errstate(over="ignore"):
        g = np.asarray(grams, dtype=np.uint64)
        h = np.full_like(g, (SEED + P5 + 8) & M64)
        h ^= _np_rotl(g * np.uint64(P2), 31) * np.uint64(P1)
        base = _np_fmix(_np_rotl(h, 27) * np.uint64(P1) + np.uint64(P4))
        out = np.empty((len(g), k), dtype=np.uint64)
        for i in range(k):
            h = base + np.uint64((P5 + 4) & M64)
            h ^= np.uint64((i * P1) & M64)
            out[:, i] = _np_fmix(_np_rotl(h, 23) * np.uint64(P2) + np.uint64(P3))
    return out.view(np.int64)


def _band_keys(texts, k, bands):
    """(band, bucket) keys of each text's MinHash signature: the lane-wise
    minimum over its grams, cut into `bands` slices, each hashed as the
    comma-joined decimal lanes with seed hashInt(band)."""
    todo = [t for t in set(texts) if t not in _KEYS]
    sets = [list(_grams(t)) for t in todo]
    lanes = _np_lanes([g for gs in sets for g in gs], k)
    r, pos = k // bands, 0
    for t, gs in zip(todo, sets):
        sig = lanes[pos:pos + len(gs)].min(axis=0) if gs else [(1 << 63) - 1] * k
        pos += len(gs)
        _KEYS[t] = [(b, xx_bytes(",".join(str(int(x)) for x in sig[b * r:(b + 1) * r]).encode(),
                                 xx_int(b, SEED))) for b in range(bands)]
    return [_KEYS[t] for t in texts]


def minhash_pairs(texts_by_id, k=16, bands=4, min_jaccard=0.2):
    """Replay of Dedup.minhashNearDups: xxhash64 token hashes, word
    3-gram folds, 16 salted lanes, 4 band buckets, exact Jaccard."""
    ids = sorted(texts_by_id)
    buckets = {}
    for d, keys in zip(ids, _band_keys([texts_by_id[d] for d in ids], k, bands)):
        for key in keys:
            buckets.setdefault(key, []).append(d)
    cand = set()
    for members in buckets.values():
        if len(members) > 1:
            members = sorted(members)[:1000]
            for x in range(len(members)):
                for y in range(x + 1, len(members)):
                    cand.add((members[x], members[y]))
    out = {}
    for a, b in cand:
        sa, sb = _grams(texts_by_id[a]), _grams(texts_by_id[b])
        j = len(sa & sb) / max(len(sa | sb), 1)
        j = float(Decimal(repr(j)).quantize(Decimal("0.0001"), ROUND_HALF_UP))
        if j >= min_jaccard:
            out[(a, b)] = j
    return out


def read_parts(path, columns=None):
    """A Spark-written parquet directory, part files in name order (the
    order the writer's tasks produced them)."""
    files = sorted(glob.glob(os.path.join(path, "part-*.parquet")))
    tabs = [pq.read_table(f, columns=columns) for f in files]
    return tabs


class Refresh:
    CLEAN_SQL = (
        "SELECT doc_id AS id, lang, upper(source) AS src, n_chars AS n, "
        "CASE WHEN n_chars < 200 THEN 'yes' ELSE 'no' END AS short, "
        "lang || '-' || doc_id AS tag FROM docs WHERE n_chars >= 60 AND lang != 'zh'")
    ROWWISE_SQL = (
        "SELECT doc_id AS id, CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS nw, "
        "trim(text) = '' AS blank FROM docs WHERE lang = 'en'")
    DIFF_SQL = (
        "WITH o AS (SELECT doc_id, md5(length(text) || ':' || text) AS dg FROM prev), "
        "n AS (SELECT doc_id, md5(length(text) || ':' || text) AS dg FROM docs) "
        "SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id, CASE WHEN o.dg IS NULL THEN 'added' "
        "WHEN n.dg IS NULL THEN 'removed' ELSE 'changed' END AS change, "
        "o.dg AS old_digest, n.dg AS new_digest FROM o FULL OUTER JOIN n "
        "ON o.doc_id = n.doc_id WHERE o.dg IS NULL OR n.dg IS NULL OR o.dg <> n.dg")

    def __init__(self, stage_dirs):
        self.stages = stage_dirs

    def _con(self, k):
        con = duckdb.connect()
        con.execute(f"CREATE VIEW docs AS SELECT * FROM read_parquet('{self.stages[k]}/documents.parquet')")
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{self.stages[k]}/events.parquet')")
        con.execute(f"CREATE VIEW prev AS SELECT * FROM "
                    f"read_parquet('{self.stages[max(k - 1, 0)]}/documents.parquet')")
        return con

    def _same_set(self, con, sql, out, plant):
        if plant:  # self-test: one expected row goes missing
            sql = (f"SELECT * EXCLUDE (rn_) FROM "
                   f"(SELECT *, row_number() OVER () AS rn_ FROM ({sql})) WHERE rn_ > 1")
        con.execute(f"CREATE OR REPLACE VIEW want AS {sql}")
        con.execute(f"CREATE OR REPLACE VIEW got AS SELECT * FROM read_parquet('{out}/*.parquet')")
        cols = ", ".join(d[0] for d in con.execute("SELECT * FROM want LIMIT 0").description)
        diff = con.execute(
            f"SELECT (SELECT COUNT(*) FROM (SELECT {cols} FROM want EXCEPT ALL SELECT {cols} FROM got)) "
            f"+ (SELECT COUNT(*) FROM (SELECT {cols} FROM got EXCEPT ALL SELECT {cols} FROM want))"
        ).fetchone()[0]
        return diff == 0

    def expected(self, k, name):
        """The expected output of pipeline `name` in round `k` (what the
        checks compare against; pack is checked by its properties)."""
        con = self._con(k)
        if name in ("clean", "rowwise", "diff"):
            sql = {"clean": self.CLEAN_SQL, "rowwise": self.ROWWISE_SQL, "diff": self.DIFF_SQL}[name]
            return con.execute(sql).fetchall()
        if name == "rolling":
            return [r[0] for r in con.execute(
                "SELECT CASE WHEN ROW_NUMBER() OVER w >= 5 THEN SUM(CAST(event_id AS DOUBLE)) "
                "OVER (w ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) END FROM events "
                "WINDOW w AS (ORDER BY event_id) ORDER BY event_id").fetchall()]
        if name == "minhash":
            return sorted((a, b, j) for (a, b), j in minhash_pairs(dict(con.execute(
                "SELECT doc_id, text FROM docs").fetchall())).items())
        if name == "pack":
            return {"budget": W.PACK_BUDGET, "stream_tokens": con.execute(
                "SELECT SUM(len(string_split_regex(text, '\\s+'))) FROM docs").fetchone()[0]}
        raise KeyError(name)

    def check(self, k, name, out, plant=False):
        """True when pipeline `name`'s output in round `k` is right. With
        `plant` (set-compared pipelines only) the expected rows lose one,
        so a right output must fail the check."""
        con = self._con(k)
        sets = {"clean": self.CLEAN_SQL, "rowwise": self.ROWWISE_SQL, "diff": self.DIFF_SQL}
        if name in sets:
            return self._same_set(con, sets[name], out, plant)
        if plant:
            raise ValueError(f"no planted answer for {name}")
        if name == "rolling":
            want = np.array([np.nan if v is None else v for v in self.expected(k, name)])
            got = np.concatenate([t.column(0).to_numpy(zero_copy_only=False).astype(float)
                                  for t in read_parts(out)] or [np.array([])])
            return len(got) == len(want) and bool(np.allclose(got, want, equal_nan=True))
        if name == "minhash":
            got = [tuple(r) for t in read_parts(out, ["id_a", "id_b", "jaccard"])
                   for r in zip(*(c.to_pylist() for c in t.columns))]
            want = self.expected(k, name)
            return _close(sorted(got), want) and all(j >= 0.2 for _, _, j in got)
        if name == "pack":
            tab = pa.concat_tables(read_parts(out, ["seq_id", "n_tokens", "tokens"]))
            tab = tab.sort_by("seq_id")
            n = tab.column("n_tokens").to_numpy()
            lens = pc.list_value_length(tab.column("tokens")).to_numpy()
            got = " ".join(pc.list_flatten(tab.column("tokens")).to_pylist())
            want = " ".join(t for (t,) in con.execute(
                "SELECT text FROM docs ORDER BY doc_id").fetchall())
            return (got == want and bool((n == lens).all())
                    and bool((n[:-1] == W.PACK_BUDGET).all())
                    and tab.column("seq_id").to_pylist() == list(range(tab.num_rows)))
        raise KeyError(name)


# ---------------------------------------------------------------- CLI


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    a = ap.parse_args()
    import run
    out = os.path.join(run.WORK, "expected")
    # interactive
    data = gen.tables(os.path.join(run.INPUTS, "tables"))
    ia = Interactive(data)
    rng = np.random.default_rng([a.seed, 1])
    rows = [{"round": r, "name": t.name, "jetro": text, "sql": sql,
             "answer": ia.answer(sql)}
            for r in range(run.INTERACTIVE_ROUNDS) for t, text, sql in W.interactive_round(rng)]
    _dump(os.path.join(out, f"interactive-seed{a.seed}"), rows)
    # interactive's doc.* ops
    doc = gen.cold_doc(os.path.join(run.INPUTS, f"cold-seed{a.seed}.json"), a.seed)
    rng = np.random.default_rng([a.seed, 3])
    rows = [{"round": r, "name": "doc." + name, "jetro": text, "answer": doc_answer(doc, fn, p)}
            for r in range(run.INTERACTIVE_ROUNDS) for name, text, fn, p in W.doc_round(rng)]
    _dump(os.path.join(out, f"interactive-doc-seed{a.seed}"), rows)
    # refresh
    stages = gen.corpus(os.path.join(run.INPUTS, f"corpus-seed{a.seed}"), a.seed,
                        run.REFRESH_ROUNDS)
    rf = Refresh(stages)
    rows = [{"round": k, "name": n, "answer": rf.expected(k, n)}
            for k in range(1, run.REFRESH_ROUNDS + 1) for n in W.REFRESH_PIPELINES]
    _dump(os.path.join(out, f"refresh-seed{a.seed}"), rows)
    print(out)


def _dump(d, rows):
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "expected.jsonl"), "w") as f:
        for r in rows:
            f.write(json.dumps(r, default=str) + "\n")


if __name__ == "__main__":
    main()
