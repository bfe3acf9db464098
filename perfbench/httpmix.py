"""The `http_navigational` request mix and its oracle.

Each template pairs an HTSQL query with the SQL that DuckDB runs for the
same answer, both filled with the same literals. The templates follow the
`LangQueries` keys that carry oracle SQL: links, linked aggregates, sieves,
nested segments, sort/limit and quotients. Literals are drawn from small
per-slot value lists with a skewed (Zipf-like) pick, so some exact URLs
repeat; the benchmark reports the measured repeat share.
"""
import csv
import io
import json
import string

# slot -> candidate values, most likely first
SLOTS = {
    "r": [0, 1, 2, 3, 4],
    "k": [50, 100, 200, 400, 800, 1600],
    "ke": [100, 300, 1000, 3000],
    "p": [400000, 425000, 450000, 475000, 490000],
    "pn": [380000, 420000, 460000],
    "n": [20, 50, 100, 200],
    "nn": [1, 2, 3],
    "c": list(range(0, 15000, 233)),
    "g": ["o_orderpriority", "o_orderstatus"],
    "seg": ["building", "machinery", "furniture", "household", "automobile"],
    "b": [0, 2500, 5000, 7500],
    "reg": ["ASIA", "EUROPE", "AFRICA", "AMERICA", "MIDDLE EAST"],
}

DSUM = "CAST(sum(CAST({} AS DECIMAL(30,6))) AS DOUBLE)"

# name, htsql, oracle sql, how the response is compared:
#   "ordered" rows in order; "nested" flatten the `nation` segment column
#   into (key, pos, child columns) rows and compare as a sorted list.
TEMPLATES = [
    ("region_nations",
     "/region?r_regionkey>={r}{{r_regionkey, r_name, n_nations := count(nation)}}"
     ".sort(r_regionkey)",
     """SELECT r_regionkey, r_name, count(n_nationkey) AS n_nations
        FROM region LEFT JOIN nation ON n_regionkey = r_regionkey
        WHERE r_regionkey >= {r} GROUP BY r_regionkey, r_name ORDER BY r_regionkey""",
     "ordered"),
    ("big_orders",
     "/orders?o_totalprice>{p}{{o_orderkey, o_custkey, o_totalprice}}"
     ".sort(o_orderkey).limit({n})",
     """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        WHERE o_totalprice > {p} ORDER BY o_orderkey LIMIT {n}""",
     "ordered"),
    ("customer_region",
     "/customer?c_custkey<{k}{{c_custkey, c_name, r_name := nation.region.r_name}}"
     ".sort(c_custkey)",
     """SELECT c_custkey, c_name, r_name FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE c_custkey < {k} ORDER BY c_custkey""",
     "ordered"),
    ("customer_big_orders",
     "/customer?c_custkey<{k}{{c_custkey, n_big := count(orders?o_totalprice>{p})}}"
     ".sort(c_custkey)",
     """SELECT c_custkey, count(CASE WHEN o_totalprice > {p} THEN 1 END) AS n_big
        FROM customer LEFT JOIN orders ON o_custkey = c_custkey
        WHERE c_custkey < {k} GROUP BY c_custkey ORDER BY c_custkey""",
     "ordered"),
    ("order_quotient",
     "/(orders^{g}){{{g}, n_orders := count(^), sum_price := sum(^.o_totalprice)}}"
     ".sort({g})",
     """SELECT {g}, count(*) AS n_orders, """ + DSUM.format("o_totalprice") +
     """ AS sum_price FROM orders GROUP BY {g} ORDER BY {g}""",
     "ordered"),
    ("active_customers",
     "/customer?c_custkey<{ke}&exists(events){{c_custkey, c_name}}.sort(c_custkey)",
     """SELECT c_custkey, c_name FROM customer
        WHERE c_custkey < {ke}
          AND EXISTS (SELECT 1 FROM events WHERE user_id = c_custkey)
        ORDER BY c_custkey""",
     "ordered"),
    ("net_orders",
     "/orders.define(net := o_totalprice*0.95)?net>{pn}{{o_orderkey, net}}"
     ".sort(o_orderkey).limit({n})",
     """SELECT o_orderkey, o_totalprice * 0.95 AS net FROM orders
        WHERE o_totalprice * 0.95 > {pn} ORDER BY o_orderkey LIMIT {n}""",
     "ordered"),
    ("region_customers",
     "/region?r_regionkey<={r}{{r_regionkey, n_cust := count(nation.customer), "
     "avg_bal := avg(nation.customer.c_acctbal)}}.sort(r_regionkey)",
     """SELECT r_regionkey, coalesce(count(c_custkey), 0) AS n_cust, """ +
     DSUM.format("c_acctbal") + """ / count(c_acctbal) AS avg_bal
        FROM region
        LEFT JOIN nation ON n_regionkey = r_regionkey
        LEFT JOIN customer ON c_nationkey = n_nationkey
        WHERE r_regionkey <= {r} GROUP BY r_regionkey ORDER BY r_regionkey""",
     "ordered"),
    ("given_cap",
     "/customer?c_custkey<{k}{{c_custkey, n_big := given(count(orders?o_totalprice>$cap), "
     "cap := {p})}}.sort(c_custkey)",
     """SELECT c_custkey, count(CASE WHEN o_totalprice > {p} THEN 1 END) AS n_big
        FROM customer LEFT JOIN orders ON o_custkey = c_custkey
        WHERE c_custkey < {k} GROUP BY c_custkey ORDER BY c_custkey""",
     "ordered"),
    ("region_attach",
     "/region{{r_regionkey, r_name, n_here := count(nation), n_all := count(@nation), "
     "n_big_orders := count(@orders?o_totalprice>{p})}}.sort(r_regionkey)",
     """SELECT r_regionkey, r_name, count(n_nationkey) AS n_here,
          (SELECT count(*) FROM nation) AS n_all,
          (SELECT count(*) FROM orders WHERE o_totalprice > {p}) AS n_big_orders
        FROM region LEFT JOIN nation ON n_regionkey = r_regionkey
        GROUP BY r_regionkey, r_name ORDER BY r_regionkey""",
     "ordered"),
    ("root_totals",
     "/{{n_regions := count(region), n_big := count(orders?o_totalprice>{p}), "
     "total := sum(orders.o_totalprice)}}",
     """SELECT (SELECT count(*) FROM region) AS n_regions,
          (SELECT count(*) FROM orders WHERE o_totalprice > {p}) AS n_big,
          (SELECT """ + DSUM.format("o_totalprice") + """ FROM orders) AS total""",
     "ordered"),
    ("customer_projection",
     "/customer?c_custkey<{k}{{c_custkey, nm := upper(c_name), seg := lower(c_mktsegment)}}"
     "?seg!='{seg}'.sort(c_custkey)",
     """SELECT c_custkey, upper(c_name) AS nm, lower(c_mktsegment) AS seg
        FROM customer WHERE c_custkey < {k} AND lower(c_mktsegment) <> '{seg}'
        ORDER BY c_custkey""",
     "ordered"),
    ("customer_scope",
     "/customer{{c_custkey, seg := c_mktsegment}}"
     "?c_acctbal>{b}&nation.region.r_name='{reg}'.sort(c_custkey).limit({n})",
     """SELECT c_custkey, c_mktsegment AS seg FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE c_acctbal > {b} AND r_name = '{reg}'
        ORDER BY c_custkey LIMIT {n}""",
     "ordered"),
    ("customer_orders",
     "/orders?o_custkey={c}{{o_orderkey, o_totalprice, cname := customer.c_name}}"
     ".sort(o_orderkey)",
     """SELECT o_orderkey, o_totalprice, c_name AS cname FROM orders
        JOIN customer ON o_custkey = c_custkey
        WHERE o_custkey = {c} ORDER BY o_orderkey""",
     "ordered"),
    ("region_top_nations",
     "/region{{r_regionkey, /nation.sort(n_name-).limit({nn}){{n_nationkey, n_name}}}}",
     """SELECT r_regionkey, pos, n_nationkey, n_name FROM (
          SELECT r_regionkey,
            row_number() OVER (PARTITION BY r_regionkey
                               ORDER BY n_name DESC, n_nationkey) - 1 AS pos,
            n_nationkey, n_name
          FROM region JOIN nation ON n_regionkey = r_regionkey)
        WHERE pos < {nn}""",
     "nested"),
    ("region_segment",
     "/region?r_regionkey<={r}{{r_regionkey, /nation{{n_nationkey, n_name}}}}",
     """SELECT r_regionkey,
          row_number() OVER (PARTITION BY r_regionkey ORDER BY n_nationkey) - 1 AS pos,
          n_nationkey, n_name
        FROM region JOIN nation ON n_regionkey = r_regionkey
        WHERE r_regionkey <= {r}""",
     "nested"),
]
BY_NAME = {t[0]: t for t in TEMPLATES}
FORMATS = ["json", "csv", "txt"]
FORMAT_P = [0.7, 0.15, 0.15]
# renderer row caps (Graft.toJson / toCsv default 10000, toText 100)
ROW_CAP = {"json": 10000, "csv": 10000, "txt": 100}


def warmup():
    """One request per template with each slot's first value, formats in
    turn: identical in every run, so set-up is comparable between runs."""
    out = []
    for n, (name, htsql, _, kind) in enumerate(TEMPLATES):
        lits = {s: SLOTS[s][0] for s in _slots(htsql)}
        out.append((name, lits, "json" if kind == "nested" else FORMATS[n % 3]))
    return out


def _skewed(rng, values):
    w = [1.0 / (i + 1) ** 1.2 for i in range(len(values))]
    s = sum(w)
    return values[int(rng.choice(len(values), p=[x / s for x in w]))]


def _slots(text):
    return {f for _, f, _, _ in string.Formatter().parse(text) if f}


def render(name, lits, fmt):
    """The URL path text (query + format decorator) and the oracle SQL."""
    _, htsql, sql, _ = BY_NAME[name]
    return htsql.format(**lits) + f"/:{fmt}", sql.format(**lits)


def draw(rng, count):
    """`count` requests: (template, literals, format), drawn by `rng`. The
    templates come in seeded permutations, so every stretch of
    len(TEMPLATES) requests holds each template once and the mix does not
    drift with the seed."""
    out = []
    while len(out) < count:
        for t in rng.permutation(len(TEMPLATES)):
            name, htsql, _, kind = TEMPLATES[int(t)]
            lits = {s: _skewed(rng, SLOTS[s]) for s in sorted(_slots(htsql))}
            fmt = "json" if kind == "nested" else FORMATS[int(rng.choice(3, p=FORMAT_P))]
            out.append((name, lits, fmt))
    return out[:count]


def _same(got, want):
    if want is None:
        return got is None or got == ""
    if isinstance(want, bool):
        return got == want or str(got).lower() == str(want).lower()
    if isinstance(want, float):
        try:
            return float(got) == want
        except (TypeError, ValueError):
            return False
    if isinstance(want, int):
        try:
            return int(got) == want
        except (TypeError, ValueError):
            return False
    return str(got) == str(want)


def _rows_equal(got_rows, want_rows):
    if len(got_rows) != len(want_rows):
        return f"rows: got {len(got_rows)}, want {len(want_rows)}"
    for i, (g, w) in enumerate(zip(got_rows, want_rows)):
        if len(g) != len(w) or not all(_same(a, b) for a, b in zip(g, w)):
            return f"row {i}: got {g!r}, want {w!r}"
    return None


def check(name, fmt, body, cols, want):
    """None when `body` (the HTTP response text) answers the template the
    way the oracle rows `want` (with column names `cols`) do; otherwise a
    one-line reason."""
    kind = BY_NAME[name][3]
    want = want[:ROW_CAP[fmt]]
    if kind == "nested":
        recs = json.loads(body)
        got = []
        key, child = cols[0], cols[2:]
        for r in recs:
            for pos, n in enumerate(r.get("nation") or []):
                got.append((r.get(key), pos) + tuple(n.get(c) for c in child))
        return _rows_equal(sorted(got), sorted(tuple(w) for w in want))
    if fmt == "json":
        recs = json.loads(body)
        if not isinstance(recs, list):
            return "not a JSON list"
        return _rows_equal([tuple(r.get(c) for c in cols) for r in recs], want)
    if fmt == "csv":
        rows = list(csv.reader(io.StringIO(body)))
        if not rows or rows[0] != list(cols):
            return f"header: got {rows[:1]!r}, want {list(cols)!r}"
        return _rows_equal(rows[1:], want)
    lines = body.split("\n")
    head = [c.strip() for c in lines[0].split(" | ")]
    if head != list(cols):
        return f"header: got {head!r}, want {list(cols)!r}"
    rows = [[c.strip() for c in ln.split(" | ")] for ln in lines[2:]]
    return _rows_equal(rows, want)
