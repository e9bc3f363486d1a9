package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.jexpr._

/** Golden tests for the document-mode engine, mirroring the reference's
  * documented behavior (README.md:30-90, INDEPTH.md examples,
  * SYNTAX semantics). Style follows the reference's regression suite:
  * inline JSON fixture → collect(expr) → expected JSON.
  */
class JexprSpec extends AnyFunSuite {

  private val store =
    """{
      "store": {
        "books": [
          {"id": "b1", "title": "Dune", "author": "Herbert", "year": 1965, "price": 9.99, "stock": 3, "tags": ["classic", "scifi"]},
          {"id": "b2", "title": "Neuromancer", "author": "Gibson", "year": 1984, "price": 14.5, "stock": 0, "tags": ["scifi"]},
          {"id": "b3", "title": "Emma", "author": "Austen", "year": 1815, "price": 5.0, "stock": 12, "tags": ["classic"]}
        ],
        "city": "Arrakeen"
      }
    }"""

  private val orders =
    """{
      "orders": [
        {"id": "ord_1001", "status": "paid", "total": 184.50, "customer": {"name": "Ada", "tier": "gold"}},
        {"id": "ord_1002", "status": "pending", "total": 75.00, "customer": {"name": "Grace", "tier": "silver"}},
        {"id": "ord_1003", "status": "paid", "total": 312.20, "customer": {"name": "Alan", "tier": "gold"}}
      ]
    }"""

  private def run(doc: String, expr: String): String = Jetro.collect(doc, expr)

  // ── paths & navigation ────────────────────────────────────────────────
  test("field access and missing → null") {
    assert(run(store, "$.store.city") == "\"Arrakeen\"")
    assert(run(store, "$.store.nope") == "null")
    assert(run(store, "$.store.books[0].title") == "\"Dune\"")
    assert(run(store, "$.store.books[-1].id") == "\"b3\"")
  }

  test("slices") {
    assert(run(store, "$.store.books[0:2].map(id)") == """["b1","b2"]""")
    assert(run(store, "$.store.books[1:].map(id)") == """["b2","b3"]""")
    assert(run(store, "$.store.books[:1].map(id)") == """["b1"]""")
  }

  test("inline filter postfix") {
    assert(run(store, """$.store.books{price < 10}.map(id)""") == """["b1","b3"]""")
  }

  test("recursive descent") {
    assert(run(store, "$..price") == "[9.99,14.5,5.0]")
    assert(run(store, "$..price.sum().round(2)") == "29.49")
  }

  // ── the README headline query ─────────────────────────────────────────
  test("headline report query") {
    val out = run(orders,
      """{
        "top_paid": $.orders
          .filter(status == "paid")
          .sort_by(-total)
          .take(2)
          .map({id, customer: customer.name, tier: customer.tier, total, label: f"{customer.name}: ${total}"}),
        "paid_total": $.orders.filter(status == "paid").map(total).sum()
      }""")
    val expect = """{"top_paid":[{"id":"ord_1003","customer":"Alan","tier":"gold","total":312.2,"label":"Alan: $312.2"},{"id":"ord_1001","customer":"Ada","tier":"gold","total":184.5,"label":"Ada: $184.5"}],"paid_total":496.7}"""
    assert(out == expect)
  }

  // ── filters / aggregates ──────────────────────────────────────────────
  test("aggregates with jetro semantics") {
    assert(run(store, "$.store.books.map(price).sum().round(2)") == "29.49")
    assert(run(store, "$.store.books.filter(price > 100).map(price).sum()") == "0") // empty sum → 0
    assert(run(store, "$.store.books.filter(price > 100).avg(price)") == "null")    // empty avg → null
    assert(run(store, "$.store.books.count(stock == 0)") == "1")
    assert(run(store, "$.store.books.min(price)") == "5.0")
    assert(run(store, "$.store.books.max_by(price).id") == "\"b2\"")
    assert(run(store, "$.store.books.any(year > 1980)") == "true")
    assert(run(store, "$.store.books.all(price > 1)") == "true")
  }

  test("group_by / count_by / index_by") {
    assert(run(orders, "$.orders.count_by(status)") == """{"paid":2,"pending":1}""")
    assert(run(orders, "$.orders.group_by(status).transform_values(@.count())") == """{"paid":2,"pending":1}""")
    assert(run(orders, "$.orders.index_by(id).keys().len()") == "3")
  }

  test("unique / sort / take_while") {
    assert(run(store, "$.store.books.flat_map(tags).unique()") == """["classic","scifi"]""")
    assert(run(store, "$.store.books.sort_by(year).map(id)") == """["b3","b1","b2"]""")
    assert(run(store, "$.store.books.sort_by(-price).take_while(price > 9).map(id)") == """["b2","b1"]""")
  }

  test("key sorts are stable: equal keys keep input order both ways") {
    val doc = """{"xs": [{"id": 1, "k": 2}, {"id": 2, "k": 1}, {"id": 3, "k": 2},
                        {"id": 4, "k": 1}, {"id": 5, "k": 3}, {"id": 6, "k": 2}]}"""
    assert(run(doc, "$.xs.sort_by(k).map(id)") == "[2,4,1,3,6,5]")
    assert(run(doc, "$.xs.sort_by(-k).map(id)") == "[5,1,3,6,2,4]")
    assert(run(doc, "$.xs.sort(-k).map(id)") == "[5,1,3,6,2,4]")
    assert(run(doc, "$.xs.sort_by(-k).take(2).map(id)") == "[5,1]")
    assert(run(doc, "$.xs.map(k).sort(-@)") == "[3,2,2,2,1,1]")
    assert(run("""{"xs": [7]}""", "$.xs.sort(-@)") == "[7]")
  }

  // ── expressions ───────────────────────────────────────────────────────
  test("ternary, coalesce, try") {
    assert(run(store, """$.store.books.map("out" if stock == 0 else "ok")""") == """["ok","out","ok"]""")
    assert(run(store, "$.store.missing ?? 42") == "42")
    assert(run(store, "try $.store.books[0].price / 0 else -1") == "-1")
    assert(run(store, "try $.store.nope else \"dflt\"") == "\"dflt\"")
  }

  test("arithmetic & comparison semantics") {
    assert(run(store, "$.store.books[0].price * 2") == "19.98")
    assert(run(store, "7 / 2") == "3.5")                      // division is float
    assert(run(store, "7 % 3") == "1")
    assert(run(store, "\"a\" + \"b\"") == "\"ab\"")
    assert(run(store, "1 == 1.0") == "true")                  // cross numeric eq
    assert(run(store, "\"x\" < 1") == "false")                // incompatible cmp → false
    assert(run(store, "\"Dune\" ~= \"dun\"") == "true")       // fuzzy bidirectional
  }

  test("kind / cast / has") {
    assert(run(store, "$.store.books kind array") == "true")
    assert(run(store, "$.store.city is not number") == "true")
    assert(run(store, "\"12\" as int + 1") == "13")
    assert(run(store, "$.store.books[0].tags has \"scifi\"") == "true")
    assert(run(store, "$.store has \"city\"") == "true")
  }

  // ── lambdas / let / comprehensions / pipes ────────────────────────────
  test("lambdas and let") {
    assert(run(store, "let n = 2 in $.store.books.take(n).map(id)") == """["b1","b2"]""")
    assert(run(store, "let f = x => x.price * 2 in $.store.books.map(f).sum().round(2)") == "58.98")
    assert(run(store, "$.store.books.map(lambda b: b.year).max()") == "1984")
  }

  test("comprehensions") {
    assert(run(store, "[b.id for b in $.store.books if b.stock > 0]") == """["b1","b3"]""")
    assert(run(store, "{b.id: b.price for b in $.store.books}") == """{"b1":9.99,"b2":14.5,"b3":5.0}""")
    assert(run(store, "{t for b in $.store.books for t in b.tags}") == """["classic","scifi"]""")
    assert(run(store, "[b.id + \"-\" + t for b in $.store.books for t in b.tags if b.stock > 0]")
      == """["b1-classic","b1-scifi","b3-classic"]""")
  }

  test("pipes and binds") {
    assert(run(store, "$.store.books | count()") == "3")
    assert(run(store, "$.store.books[0].title | upper") == "\"DUNE\"" ||
           run(store, "$.store.books[0].title | upper()") == "\"DUNE\"")
    assert(run(store, "$.store.books.map(price) | @.avg().round(2)") == "9.83")
    assert(run(store, "$.orders" ) != "")
  }

  test("object construction forms") {
    assert(run(store, "{city: $.store.city, n: $.store.books.count()}") == """{"city":"Arrakeen","n":3}""")
    assert(run(store, "$.store.books[0] | {id, price}") == """{"id":"b1","price":9.99}""")
    assert(run(store, "{a: 1, b?: null, c: 2}") == """{"a":1,"c":2}""")           // omit-if-null
    assert(run(store, "{x: 1 when false, y: 2 when true}") == """{"y":2}""")      // when guard
    assert(run(store, "{...$.store.books[0].pick(id), extra: true}") == """{"id":"b1","extra":true}""")
    assert(run(store, "[1, ...[2, 3], 4]") == "[1,2,3,4]")
  }

  test("f-strings with format specs") {
    assert(run(store, """f"n={$.store.books.count():>4}"""") == "\"n=   3\"")
    assert(run(store, """$.store.books[0] | f"{title}: {price:.2f}"""") == "\"Dune: 9.99\"")
    assert(run(store, """f"{{literal}}"""") == "\"{literal}\"")
  }

  // ── deep search ───────────────────────────────────────────────────────
  test("deep find / shape / like") {
    assert(run(store, "$..find(@ kind number and @ < 6)") == "[3,0,5.0]") // DFS pre-order
    assert(run(orders, """$..like({status: "paid"}).map(id)""") == """["ord_1001","ord_1003"]""")
    assert(run(orders, "$..shape({id, total}).count()") == "3")
  }

  // ── windows / sequences ───────────────────────────────────────────────
  test("window ops") {
    val doc = """{"xs": [1, 2, 3, 4, 5]}"""
    assert(run(doc, "$.xs.window(2).count()") == "4")
    assert(run(doc, "$.xs.chunk(2)") == "[[1,2],[3,4],[5]]")
    assert(run(doc, "$.xs.pairwise()[0]") == "[1,2]")
    assert(run(doc, "$.xs.rolling_sum(2)") == "[null,3.0,5.0,7.0,9.0]")
    assert(run(doc, "$.xs.cum_max()") == "[1.0,2.0,3.0,4.0,5.0]")
    assert(run(doc, "$.xs.diff_window()") == "[null,1.0,1.0,1.0,1.0]")
    assert(run(doc, "$.xs.enumerate()[1]") == """{"index":1,"value":2}""")
    assert(run(doc, "$.xs.accumulate((a, b) => a + b)") == "[1,3,6,10,15]")
  }

  // ── set ops / zips / joins ────────────────────────────────────────────
  test("set ops and zip") {
    val doc = """{"a": [1, 2, 3], "b": [2, 3, 4]}"""
    assert(run(doc, "$.a.union($.b)") == "[1,2,3,4]")
    assert(run(doc, "$.a.intersect($.b)") == "[2,3]")
    assert(run(doc, "$.a.diff($.b)") == "[1]")
    assert(run(doc, "$.a.zip($.b)[0]") == "[1,2]")
    assert(run(doc, "$.a.zip_longest([9])[1]") == "[2,null]")
  }

  test("equi_join merges matched objects") {
    val doc = """{"users": [{"uid": 1, "name": "Ada"}], "orders": [{"oid": 10, "uid": 1}]}"""
    assert(run(doc, "$.orders.equi_join($.users, uid, uid)[0].name") == "\"Ada\"")
    // string-literal field-name keys (SYNTAX.md:668) and asymmetric keys
    val doc2 = """{"users": [{"id": 1, "name": "Ada"}], "orders": [{"oid": 10, "user_id": 1}]}"""
    assert(run(doc2, """$.orders.equi_join($.users, "user_id", "id")[0].name""") == "\"Ada\"")
  }

  test("two-variable comprehension over objects") {
    val doc = """{"m": {"a": 1, "b": 2}}"""
    assert(run(doc, "[k for k, v in $.m]") == """["a","b"]""")
    assert(run(doc, "{k: v * 2 for k, v in $.m}") == """{"a":2,"b":4}""")
  }

  // ── object/map/path ops ───────────────────────────────────────────────
  test("object ops") {
    val doc = """{"m": {"a": 1, "b": 2}}"""
    assert(run(doc, "$.m.keys()") == """["a","b"]""")
    assert(run(doc, "$.m.values()") == "[1,2]")
    assert(run(doc, "$.m.entries()") == """[["a",1],["b",2]]""")
    assert(run(doc, "$.m.entries().from_pairs()") == """{"a":1,"b":2}""")
    assert(run(doc, "$.m.invert()") == """{"1":"a","2":"b"}""")
    // rooted .merge is a chain-write: whole doc back, path merged
    assert(run(doc, "$.m.merge({c: 3})") == """{"m":{"a":1,"b":2,"c":3}}""")
    // pipe form keeps value semantics
    assert(run(doc, "$.m | merge({c: 3})") == """{"a":1,"b":2,"c":3}""")
    assert(run(doc, "$.m.transform_values(@ * 10)") == """{"a":10,"b":20}""")
    assert(run(doc, "$.m.filter_values(@ > 1)") == """{"b":2}""")
    assert(run(doc, "$.m.set(\"d\", 4).len()") == "3")
    assert(run(doc, "$.m.update(\"a\", @ + 99).a") == "100")
    assert(run(doc, "$.m.rename(\"a\", \"z\").keys()") == """["b","z"]""")
  }

  test("path ops") {
    val doc = """{"a": {"b": {"c": 7}}}"""
    assert(run(doc, "$.get_path(\"a.b.c\")") == "7")
    assert(run(doc, "$.has_path(\"a.b.x\")") == "false")
    assert(run(doc, "$.set_path(\"a.b.d\", 9).a.b.d") == "9")
    assert(run(doc, "$.del_path(\"a.b.c\").a.b") == "{}")
    assert(run(doc, "$.flatten_keys()") == """{"a.b.c":7}""")
    assert(run(doc, "$.flatten_keys().unflatten_keys().a.b.c") == "7")
  }

  // ── strings ───────────────────────────────────────────────────────────
  test("string functions") {
    val d = """{"s": "Hello World"}"""
    assert(run(d, "$.s.upper()") == "\"HELLO WORLD\"")
    assert(run(d, "$.s.snake_case()") == "\"hello_world\"")
    assert(run(d, "$.s.kebab_case()") == "\"hello-world\"")
    assert(run(d, "$.s.words().len()") == "2")
    assert(run(d, "$.s.replace(\"World\", \"There\")") == "\"Hello There\"")
    assert(run(d, "$.s.pad_left(13, \"*\")") == "\"**Hello World\"")
    assert(run(d, "$.s.to_base64().from_base64()") == "\"Hello World\"")
    assert(run(d, "$.s.re_match_all(\"[A-Z]\")") == """["H","W"]""")
    assert(run(d, "$.s.re_replace_all(\"o\", \"0\")") == "\"Hell0 W0rld\"")
    assert(run(d, "$.s.index_of(\"World\")") == "6")
    assert(run(d, "upper($.s)") == "\"HELLO WORLD\"") // free-function style
  }

  // ── patches & chain-ish writes ────────────────────────────────────────
  test("patch blocks") {
    assert(run(store, "patch $ { store.city: \"Dune City\" }.store.city") == "\"Dune City\"")
    val discounted = run(store, "patch $ { store.books[*].price: @ * 0.5 }.store.books.map(price).sum().round(3)")
    assert(discounted == "14.745")
    assert(run(store, "patch $ { store.books[* if stock == 0].available: false }.store.books[1].available") == "false")
    assert(run(store, "patch $ { store.books[0].price: DELETE }.store.books[0].has(\"price\")") == "false")
    assert(run(store, "patch $ { store..year: @ + 1 }.store.books[0].year") == "1966")
    assert(run(store, "patch $ { store.books[2].price: 99 when @ < 6 }.store.books[2].price") == "99")
    assert(run(store, "patch $ { store.books[2].price: 99 when @ > 6 }.store.books[2].price") == "5.0")
  }

  // ── misc ──────────────────────────────────────────────────────────────
  test("to_csv / trace_path / walk") {
    val doc = """{"rows": [{"a": 1, "b": "x"}, {"a": 2, "b": "y"}]}"""
    assert(run(doc, "$.rows.to_csv()") == "\"a,b\\n1,x\\n2,y\"")
    assert(run(doc, "$.trace_path().count()") == "4")
    assert(run(doc, "$.walk(@ + 1 if @ kind number else @).rows[0].a") == "2")
  }

  test("array utility builtins") {
    val doc = """{"xs": [1, 2, 3, 2], "nest": [[1, [2]], [3]], "ws": ["a", "b"]}"""
    assert(run(doc, "$.xs.append(9)") == "[1,2,3,2,9]")
    assert(run(doc, "$.xs.prepend(0)") == "[0,1,2,3,2]")
    assert(run(doc, "$.nest.flatten()") == "[1,[2],3]")
    assert(run(doc, "$.nest.flatten(2)") == "[1,2,3]")
    assert(run(doc, "$.xs.index(2)") == "1")
    assert(run(doc, "$.xs.index(42)") == "null")
    assert(run(doc, "$.xs.indices_of(2)") == "[1,3]")
    assert(run(doc, "$.ws.join(\"-\")") == "\"a-b\"")
    assert(run(doc, "$.xs.join(\",\")") == "\"1,2,3,2\"")
    assert(run(doc, "$.xs.find_first(@ > 1)") == "2")
    assert(run(doc, "$.xs.find_one(@ > 9)") == "null")
    assert(run(doc, "\"héllo\".chars_of().len()") == "5")
  }

  test("schema inference") {
    val doc = """{"rows": [{"a": 1, "b": "x"}, {"a": null, "c": true}]}"""
    assert(run(doc, "$.rows[0].schema()")
      == """{"type":"Object","required":["a","b"],"fields":{"a":{"type":"Int"},"b":{"type":"String"}}}""")
    assert(run(doc, "$.rows.schema().type") == "\"Array\"")
    assert(run(doc, "$.rows.schema().items.required") == "[]")
    assert(run(doc, "$.rows.schema().items.fields.a.nullable") == "true")
    assert(run(doc, "$.rows.schema().items.fields.b.optional") == "true")
    assert(run(doc, "[1, \"x\"].schema().items.type") == "\"Mixed\"")
  }

  test("pathological nesting fails as a catchable parse error, not stack overflow") {
    val deep = "[" * 100000 + "]" * 100000
    intercept[JsonParseException] { JValue.parse(deep) }
    // and through the row UDF it degrades to null instead of killing the task
    assert(Jetro.jetroEvalUdf.asNondeterministic() != null) // UDF exists
    val compiled = Jetro.compile("$.a")
    intercept[JsonParseException] { compiled.eval(deep) }
  }

  test("every knownNames builtin dispatches (controlled error or value, never a crash)") {
    // the bare-ident-as-builtin rule routes any of these names at an
    // array/string current straight into Builtins.call with no args —
    // a name in the set that is not dispatched would surface as a
    // MatchError instead of jetro's own error type
    val samples = Seq("""["a","bb"]""", """"text here"""")
    for (name <- jexpr.Builtins.knownNames; doc <- samples) {
      try Jetro.collect(doc, s"$$.$name()")
      catch {
        case _: jexpr.EvalException      => () // jetro's own loud error: fine
        case _: jexpr.ParseException     => () // reserved words don't parse as methods: fine
        case _: jexpr.JsonParseException => () // from_json on non-JSON input: fine
        case e: Throwable => fail(s"$name on $doc: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
  }

  test("string methods on non-applicable receivers keep the receiver unchanged") {
    // the reference's apply_or_recv contract (mod.rs:1448-1455): every
    // str apply is as_str_ref-gated, so mixed lanes pass non-strings
    // through untouched — never a stringified coercion
    assert(Jetro.collect("""[1, "a", true, [2]]""", "$.map(@.upper())")
      == """[1,"A",true,[2]]""")
    assert(Jetro.collect("""[5]""", "$.map(@.trim())") == "[5]")
    assert(Jetro.collect("""[{"x":7}]""", "$.map(x.split(\"-\"))") == "[7]")
    assert(Jetro.collect("""[3.5]""", "$.map(@.parse_int())") == "[3.5]")
  }

  test("numeric aggregates skip non-numbers; len/count leave scalars unchanged") {
    // both reference backends skip non-numeric elements (string.rs
    // numeric_aggregate_values, pipeline num_fold `_ => return`)
    assert(Jetro.collect("""[1, "a", 2, true]""", "$.sum()") == "3")
    assert(Jetro.collect("""["a", "b"]""", "$.min()") == "null")
    assert(Jetro.collect("""[3, "z", 1]""", "$.max()") == "3")
    assert(Jetro.collect("""["a"]""", "$.avg()") == "null")
    // a bare aggregate on a non-array receiver is null
    assert(Jetro.collect("""{"x": 5}""", "$.x.sum()") == "null")
    // count() IS len(): chars for strings, unchanged for scalars
    assert(Jetro.collect("""{"s": "abc"}""", "$.s.count()") == "3")
    assert(Jetro.collect("""{"n": 5}""", "$.n.len()") == "5")
    assert(Jetro.collect("""{"n": 5}""", "$.missing.len()") == "null")
  }

  test("unique keys by display form: \"1\" and 1 collide, like group_by") {
    // val_to_key (util.rs:215-226) strips string quoting, so every
    // keyed op — unique/unique_by/group_by/count_by/index_by — shares
    // one collision rule
    assert(Jetro.collect("""[1, "1", 2, 1.0]""", "$.unique()") == "[1,2]")
    assert(Jetro.collect(
      """[{"k": 1, "t": "a"}, {"k": "1", "t": "b"}]""",
      "$.unique_by(k).map(t)") == """["a"]""")
  }

  test("keywords are legal object keys") {
    assert(run(store, "$.store.books[0] | {kind: title, in: price, has: 1}")
      == """{"kind":"Dune","in":9.99,"has":1}""")
  }

  test("parser robustness: garbage inputs throw, never crash") {
    // fuzz-lite analogue of the reference's cargo-fuzz parse target
    val rng = new scala.util.Random(42)
    val alphabet = """$.{}[]()"',:|->=<>!?+-*/%abc123 \n\t"""
    (0 until 2000).foreach { _ =>
      val len = 1 + rng.nextInt(40)
      val src = Seq.fill(len)(alphabet(rng.nextInt(alphabet.length))).mkString
      try { Jetro.compile(src); () }
      catch { case _: ParseException => () } // only this is acceptable
    }
    // and the JSON parser likewise
    (0 until 2000).foreach { _ =>
      val len = 1 + rng.nextInt(40)
      val src = Seq.fill(len)("{}[],:\"0123456789truefalsenull .-+eE"(
        rng.nextInt(36))).mkString
      try { JValue.parse(src); () }
      catch { case _: JsonParseException => () }
    }
  }

  test("quantifiers") {
    assert(run(store, "$.store.books.filter(id == \"b1\")!.title") == "\"Dune\"")
    assert(run(store, "$.store.books.filter(price > 9000)?.title") == "null")
    intercept[EvalException] {
      Jetro.compile("$.store.books!").evalValue(JValue.parse(store))
    }
  }

  test("arithmetic error contract: %0 and /0 are catchable EvalExceptions") {
    // a raw ArithmeticException would escape the per-row UDFs' catch
    // and kill the executor task; the interpreter's error contract is
    // EvalException everywhere, so try/?? take their defaults
    intercept[EvalException] {
      Jetro.compile("5 % 0").evalValue(JNull)
    }
    intercept[EvalException] {
      Jetro.compile("5 / 0").evalValue(JNull)
    }
    assert(run("{}", "try 5 % 0 else -1") == "-1")
    assert(run("{}", "(5 % 0) ?? -1") == "-1")
    assert(run("{}", "7 % 4") == "3")
    assert(run("{}", "7.5 % 0") == "null") // float % 0 → NaN → renders null
  }

  test("bind destructuring") {
    assert(run(store, "$.store.books[0] -> {id, price} | f\"{id}@{price}\"") == "\"b1@9.99\"")
  }

  test("object shaping with embedded pipelines (kvplan_obj_shaping.rs)") {
    val doc = """{"books": [{"title": "a", "price": 50}, {"title": "b", "price": 150},
                 |{"title": "c", "price": 200}], "name": {"first": "alice"}}""".stripMargin
    assert(run(doc,
      """{expensive: $.books.filter(@.price > 100).map(@.title), first_name: $.name.first}""")
      == """{"expensive":["b","c"],"first_name":"alice"}""")
    val big = "{\"items\": [" + (0 until 1000).map(i => s"""{"v": $i}""").mkString(",") + "]}"
    assert(run(big, """{first_two: $.items.filter(@.v > 100).map(@.v).take(2)}""")
      == """{"first_two":[101,102]}""")
  }

  test("nested brackets parse in time linear in their depth") {
    // each bracket parses its head once; re-parsing it on a miss would
    // double the work per level, 2^40 steps at this depth
    import Expr._
    val n = 40
    def nest(f: Expr => Expr): Expr = (1 to n).foldLeft(Lit(JInt(1)): Expr)((e, _) => f(e))
    val t0 = System.nanoTime()
    val parens  = Parser.parse("(" * n + "1" + ")" * n)
    val arrays  = Parser.parse("[" * n + "1" + "]" * n)
    val objects = Parser.parse("{a: " * n + "1" + "}" * n)
    val sums    = Parser.parse("(" * n + "1" + " + 1)" * n)
    val secs = (System.nanoTime() - t0) / 1e9
    assert(parens == Lit(JInt(1)))
    assert(arrays == nest(e => ArrLit(Vector(ArrElem.One(e)))))
    assert(objects == nest(e => ObjLit(Vector(ObjField.KV(Lit(JStr("a")), e, None)))))
    assert(sums == nest(e => Binary("+", e, Lit(JInt(1)))))
    assert(secs < 5.0, f"40-deep brackets parsed in $secs%.1f s")
  }

  test("a \\u escape takes exactly four hex digits, else JsonParseException") {
    // Integer.parseInt once read these: ZZZZ threw NumberFormatException
    // past every catch, and +041 read as "A"
    for (bad <- Seq("\"\\uZZZZ\"", "\"\\u+041\"", "\"\\u12\"", "\"\\u00e", "\"x\\u"))
      intercept[JsonParseException](JValue.parse(bad))
    assert(JValue.parse("\"\\u0041\\u00e9\\u00E9\"") == JStr("A\u00e9\u00e9"))
    val doc = JObj.of("s" -> JStr("\"\\uZZZZ\"")).render
    assert(run(doc, "try $.s.from_json() else 0") == "0")
  }
}
