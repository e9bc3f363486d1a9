"""The benchmark's ops and their independent expected answers.

* ``INTERACTIVE``: parameterised jetro templates over the sf0.1 tables,
  each with a DuckDB SQL twin. A round is one instance of every
  template, in a seeded order, with seeded parameters, so every text in
  a run is new.
* ``DOC``: the reference's 12-query bench_cold set with seeded
  parameters, each with a Python twin over the same parsed document.
* ``REFRESH``: the jetro texts of the refresh pipelines that go through
  ``Graft.query``; the other pipelines call ``graft.ops`` directly.

Placeholders in texts are written ``<<name>>``.
"""

import re


class Template:
    def __init__(self, name, tables, jetro, sql, params, ordered):
        self.name, self.tables = name, tables
        self.jetro, self.sql, self.params, self.ordered = jetro, sql, params, ordered


def fill(text, p):
    return re.sub(r"<<(\w+)>>", lambda m: str(p[m.group(1)]), text)


def _i(lo, hi):
    return lambda rng: int(rng.integers(lo, hi))


def _c(*xs):
    return lambda rng: xs[int(rng.integers(0, len(xs)))]


def _f(lo, hi):
    return lambda rng: round(float(rng.uniform(lo, hi)), 2)


def _params(**gens):
    return lambda rng: {k: g(rng) for k, g in gens.items()}


INTERACTIVE = [
    Template(
        "filter_sort_take", ["orders"],
        '$.orders{o_orderstatus == "<<st>>" and o_totalprice > <<p>>}'
        '.sort_by(-o_orderkey).take(<<n>>).map({id: o_orderkey, total: o_totalprice})',
        "SELECT o_orderkey AS id, o_totalprice AS total FROM orders "
        "WHERE o_orderstatus = '<<st>>' AND o_totalprice > <<p>> "
        "ORDER BY o_orderkey DESC LIMIT <<n>>",
        _params(st=_c("O", "P", "F"), p=_f(1000, 450000), n=_i(5, 60)), True),
    Template(
        "count_by", ["lineitem"],
        "$.lineitem.filter(l_quantity > <<q>> and l_discount < <<d>>).count_by(l_returnflag)",
        "SELECT l_returnflag AS key, COUNT(*) AS n FROM lineitem "
        "WHERE l_quantity > <<q>> AND l_discount < <<d>> GROUP BY 1",
        _params(q=_i(1, 45), d=_c(0.02, 0.04, 0.06, 0.08)), False),
    Template(
        "group_sum", ["orders"],
        "$.orders.filter(o_totalprice > <<p>>).group_by(o_orderpriority)"
        ".transform_values(lambda v: v.sum(o_orderkey))",
        "SELECT o_orderpriority AS key, CAST(SUM(o_orderkey) AS BIGINT) AS value "
        "FROM orders WHERE o_totalprice > <<p>> GROUP BY 1",
        _params(p=_f(1000, 450000)), False),
    Template(
        "equi_join", ["orders", "customer"],
        "$.orders{o_orderkey < <<k>>}.equi_join($.customer, o_custkey, c_custkey)"
        ".map({id: o_orderkey, name: c_name, seg: c_mktsegment})",
        "SELECT o_orderkey AS id, c_name AS name, c_mktsegment AS seg "
        "FROM orders JOIN customer ON o_custkey = c_custkey WHERE o_orderkey < <<k>>",
        _params(k=_i(20, 100)), False),
    Template(
        "index_by", ["nation", "customer"],
        "let nidx = $.nation.index_by(n_nationkey) in $.customer{c_custkey < <<k>>}"
        ".map({id: c_custkey, nation: nidx[to_string(c_nationkey)].n_name})",
        "SELECT c_custkey AS id, n_name AS nation FROM customer "
        "LEFT JOIN nation ON c_nationkey = n_nationkey WHERE c_custkey < <<k>>",
        _params(k=_i(20, 100)), False),
    Template(
        "comprehension", ["customer", "nation"],
        "[{c: c.c_custkey, n: n.n_name} for c in $.customer for n in $.nation "
        "if c.c_nationkey == n.n_nationkey and c.c_custkey < <<k>>]",
        "SELECT c_custkey AS c, n_name AS n FROM customer "
        "JOIN nation ON c_nationkey = n_nationkey WHERE c_custkey < <<k>>",
        _params(k=_i(20, 100)), False),
    Template(
        "rolling_sum", ["events"],
        "$.events{event_id <= <<k>>}.sort_by(event_id).map(event_id).rolling_sum(<<w>>)",
        "SELECT CASE WHEN ROW_NUMBER() OVER w >= <<w>> THEN "
        "SUM(CAST(e.event_id AS DOUBLE)) OVER (w ROWS BETWEEN <<w1>> PRECEDING AND CURRENT ROW) "
        "END AS event_id FROM events e WHERE e.event_id <= <<k>> "
        "WINDOW w AS (ORDER BY e.event_id) ORDER BY e.event_id",
        lambda rng: (lambda w: {"k": int(rng.integers(60, 200)), "w": w, "w1": w - 1})(
            int(rng.integers(2, 6))), True),
    Template(
        "deep_descent", ["nation"],
        "$.nation{n_regionkey != <<r>>}.sort_by(n_nationkey)"
        ".map({id: n_nationkey, geo: {key: n_regionkey, inner: {key: n_nationkey * <<m>>}}})..key",
        "SELECT value FROM (SELECT n_nationkey AS o, 0 AS p, CAST(n_regionkey AS BIGINT) AS value "
        "FROM nation WHERE n_regionkey != <<r>> UNION ALL SELECT n_nationkey AS o, 1 AS p, "
        "CAST(n_nationkey * <<m>> AS BIGINT) AS value FROM nation WHERE n_regionkey != <<r>>) "
        "ORDER BY o, p",
        _params(r=_i(0, 5), m=_i(2, 20)), True),
    Template(
        "fstring", ["supplier"],
        '$.supplier{s_suppkey < <<k>>}.map({k: s_suppkey, tag: f"s{s_suppkey}-{s_nationkey}", '
        'up: s_name.upper(), sign: "neg" if s_acctbal < <<a>> else "pos"})',
        "SELECT s_suppkey AS k, 's' || s_suppkey || '-' || s_nationkey AS tag, "
        "UPPER(s_name) AS up, CASE WHEN s_acctbal < <<a>> THEN 'neg' ELSE 'pos' END AS sign "
        "FROM supplier WHERE s_suppkey < <<k>>",
        _params(k=_i(20, 100), a=_f(0, 5000)), False),
    Template(
        "patch", ["nation"],
        "patch $ { nation[*].n_regionkey: @ * <<m>> when @ < <<r>> }",
        "SELECT n_nationkey, n_name, CASE WHEN n_regionkey < <<r>> THEN n_regionkey * <<m>> "
        "ELSE n_regionkey END AS n_regionkey FROM nation",
        _params(m=_i(2, 9), r=_i(1, 5)), False),
    Template(
        "struct_object", ["nation"],
        "$.nation{n_nationkey < <<k>>}.sort_by(n_nationkey)"
        ".map({id: n_nationkey, x: {a: n_name, dd: n_regionkey * <<m>>}})"
        '.map({id: id, ks: x.keys().join(","), ln: x.len(), dd: x.dd})',
        "SELECT n_nationkey AS id, 'a,dd' AS ks, 2 AS ln, n_regionkey * <<m>> AS dd "
        "FROM nation WHERE n_nationkey < <<k>> ORDER BY n_nationkey",
        _params(k=_i(5, 25), m=_i(2, 9)), True),
    Template(
        "map_object", ["events"],
        "$.events{event_id < <<k>>}.map({id: event_id, k: props.from_json().k + <<m>>})",
        "SELECT event_id AS id, CAST(json_extract(props, '$.k') AS BIGINT) + <<m>> AS k "
        "FROM events WHERE event_id < <<k>>",
        _params(k=_i(30, 120), m=_i(1, 100)), False),
    Template(
        "rowwise_rec", ["documents"],
        '$.documents.filter(lang == "<<lang>>" and doc_id < <<k>>)'
        ".map({id: doc_id, nw: text.words().len().rec(@), blank: text.is_blank().rec(@)})",
        "SELECT doc_id AS id, CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS nw, "
        "trim(text) = '' AS blank FROM documents WHERE lang = '<<lang>>' AND doc_id < <<k>>",
        _params(lang=_c("en", "de", "fr"), k=_i(100, 400)), False),
    Template(
        "doc_nation", ["nation"],
        "$.nation{n_regionkey != <<r>>}.sort_by(n_name.rec(@)).map({k: n_nationkey, r: n_regionkey})",
        "SELECT n_nationkey AS k, n_regionkey AS r FROM nation WHERE n_regionkey != <<r>> "
        "ORDER BY n_name",
        _params(r=_i(0, 5)), True),
]


def interactive_round(rng):
    """One instance of every template, in a seeded order."""
    out = []
    for j in rng.permutation(len(INTERACTIVE)):
        t = INTERACTIVE[int(j)]
        p = t.params(rng)
        out.append((t, fill(t.jetro, p), fill(t.sql, p)))
    return out


# ---------------------------------------------------------------- doc

def _sort_desc(xs, key):
    return sorted(xs, key=lambda x: -key(x))


def _unique(xs):
    seen, out = set(), []
    for x in xs:
        k = repr(x)
        if k not in seen:
            seen.add(k)
            out.append(x)
    return out


def _flat_items(data):
    return [it for r in data for it in r["items"]]


DOC = [
    ("q1_chain",
     "$.data.filter(active).filter(score > <<s>>).sort(-score).take(<<n>>)"
     ".flat_map(items).filter(price > <<p>>).map(qty * price).sum()",
     lambda d, a: sum(i["qty"] * i["price"] for r in _sort_desc(
         [r for r in d if r["active"] and r["score"] > a["s"]], lambda r: r["score"])[:a["n"]]
         for i in r["items"] if i["price"] > a["p"]),
     _params(s=_i(800, 3200), n=_i(50, 150), p=_i(20, 100))),
    ("q2_top_items",
     "$.data.flat_map(items).sort(-price).take(<<n>>).map({sku, price})",
     lambda d, a: [{"sku": i["sku"], "price": i["price"]}
                   for i in _sort_desc(_flat_items(d), lambda i: i["price"])[:a["n"]]],
     _params(n=_i(10, 50))),
    ("q3_page",
     "$.data.sort(-score).skip(<<k>>).take(<<n>>).map({id, city: user.addr.city, score})",
     lambda d, a: [{"id": r["id"], "city": r["user"]["addr"]["city"], "score": r["score"]}
                   for r in _sort_desc(d, lambda r: r["score"])[a["k"]:a["k"] + a["n"]]],
     _params(k=_i(100, 400), n=_i(20, 80))),
    ("q4_tags",
     "$.data.filter(active and score > <<s>>).flat_map(tags).unique()",
     lambda d, a: _unique([t for r in d if r["active"] and r["score"] > a["s"] for t in r["tags"]]),
     _params(s=_i(0, 7200))),
    ("q5_revenue",
     "$.data.flat_map(items).filter(price > <<p>>).map(qty * price).sum()",
     lambda d, a: sum(i["qty"] * i["price"] for i in _flat_items(d) if i["price"] > a["p"]),
     _params(p=_i(50, 300))),
    ("q6_fstring",
     '$.data.filter(active).sort(-score).take(<<n>>)'
     '.map(f"#{id} {user.name} ({user.addr.city}) score={score}")',
     lambda d, a: [f'#{r["id"]} {r["user"]["name"]} ({r["user"]["addr"]["city"]}) score={r["score"]}'
                   for r in _sort_desc([r for r in d if r["active"]], lambda r: r["score"])[:a["n"]]],
     _params(n=_i(20, 80))),
    ("q7_avg",
     "$.data.filter(score > <<s>>).flat_map(items).map(price).avg()",
     lambda d, a: (lambda xs: sum(xs) / len(xs))(
         [i["price"] for r in d if r["score"] > a["s"] for i in r["items"]]),
     _params(s=_i(3200, 7200))),
    ("q8_totals",
     "$.data.sort(-score).take(<<n>>).map({id, city: user.addr.city, total: items.map(qty * price).sum()})",
     lambda d, a: [{"id": r["id"], "city": r["user"]["addr"]["city"],
                    "total": sum(i["qty"] * i["price"] for i in r["items"])}
                   for r in _sort_desc(d, lambda r: r["score"])[:a["n"]]],
     _params(n=_i(10, 40))),
    ("q9_count",
     "$.data.filter(active).filter(score > <<s>>).flat_map(items).filter(price > <<p>>)"
     ".filter(qty > <<q>>).len()",
     lambda d, a: sum(1 for r in d if r["active"] and r["score"] > a["s"]
                      for i in r["items"] if i["price"] > a["p"] and i["qty"] > a["q"]),
     _params(s=_i(1600, 5600), p=_i(30, 200), q=_i(1, 4))),
    ("q10_count_by",
     "$.data.filter(score > <<s>>).count_by(active)",
     lambda d, a: (lambda rs: {k: v for k, v in (
         ("true", sum(1 for r in rs if r["active"])),
         ("false", sum(1 for r in rs if not r["active"]))) if v})(
         [r for r in d if r["score"] > a["s"]]),
     _params(s=_i(0, 7200))),
    ("q11_zips",
     "$.data.sort(-score).take(<<n>>).map(user.addr.zip).unique()",
     lambda d, a: _unique([r["user"]["addr"]["zip"]
                           for r in _sort_desc(d, lambda r: r["score"])[:a["n"]]]),
     _params(n=_i(100, 400))),
    ("q12_distinct_prices",
     "$.data.flat_map(items).filter(qty >= <<q>>).map(price).unique().len()",
     lambda d, a: len(_unique([i["price"] for i in _flat_items(d) if i["qty"] >= a["q"]])),
     _params(q=_i(1, 5))),
]


def doc_round(rng):
    out = []
    for j in rng.permutation(len(DOC)):
        name, text, fn, params = DOC[int(j)]
        p = params(rng)
        out.append((name, fill(text, p), fn, p))
    return out


# ------------------------------------------------------------ refresh

REFRESH = {
    # lowered cleaning / quality pass over the documents
    "clean":
        '$.documents.filter(n_chars >= 60 and lang != "zh")'
        '.map({id: doc_id, lang: lang, src: source.upper(), n: n_chars, '
        'short: "yes" if n_chars < 200 else "no", tag: f"{lang}-{doc_id}"})',
    # element-wise pipeline that does not lower: the rowwise rung
    "rowwise":
        '$.documents.filter(lang == "en")'
        '.map({id: doc_id, nw: text.words().len().rec(@), blank: text.is_blank().rec(@)})',
    # the order machinery over the whole events table
    "rolling": "$.events.sort_by(event_id).map(event_id).rolling_sum(5)",
}
REFRESH_PIPELINES = ["clean", "rowwise", "minhash", "pack", "rolling", "diff"]
PACK_BUDGET = 512
