"""Oracle checks: every operation's output is compared with an answer
computed independently by DuckDB (or, for searches, by the engine's scan
form inside the JVM). A mismatch counts as a failed operation.
"""
import os
import statistics

import duckdb
import pyarrow.parquet as pq

import httpmix


def pct(xs, q):
    """The q-th percentile of `xs` (linear interpolation between samples)."""
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1]


def beyond(xs, q):
    """How many samples lie above the q-th percentile."""
    p = pct(xs, q)
    return sum(1 for x in xs if x > p)


def connect(data_dir, tables):
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def compare_tables(ours, want):
    """`tools/check.py`'s comparison: same row count, same column names
    (sorted), and exactly equal values row by row."""
    if ours.num_rows != want.num_rows:
        return f"rows: ours={ours.num_rows} oracle={want.num_rows}"
    cols = sorted(ours.column_names)
    if cols != sorted(want.column_names):
        return f"cols: ours={cols} oracle={sorted(want.column_names)}"
    for c in cols:
        for i, (x, y) in enumerate(zip(ours.column(c).to_pylist(),
                                       want.column(c).to_pylist())):
            if x != y and not (isinstance(x, float) and isinstance(y, float)
                               and x != x and y != y):
                return f"col {c} row {i}: ours={x!r} oracle={y!r}"
    return None


def check_http(res, work, props, drawn):
    con = connect(props["data"], ["region", "nation", "customer", "orders", "events"])
    reqs = drawn["requests"]
    answers, verdicts, notes = {}, {}, []
    attempted = failed = 0
    sent = []
    for phase in ("untraced", "traced"):
        for r in res.get(phase, {}).get("requests", []):
            name, lits, fmt = reqs[r["i"]]
            url, sql = httpmix.render(name, lits, fmt)
            sent.append(url)
            attempted += 1
            if r["status"] != 200:
                failed += 1
                notes.append(f"{url}: HTTP {r['status']}")
                continue
            key = (url, r["sha"])
            if key not in verdicts:
                if sql not in answers:
                    cur = con.execute(sql)
                    answers[sql] = ([d[0] for d in cur.description], cur.fetchall())
                with open(os.path.join(work, "bodies", r["sha"]), encoding="utf-8") as fh:
                    body = fh.read()
                try:
                    verdicts[key] = httpmix.check(name, fmt, body, *answers[sql])
                except ValueError as e:
                    verdicts[key] = f"unparsable body: {e}"
            if verdicts[key]:
                failed += 1
                notes.append(f"{url}: {verdicts[key]}")
    seen, repeats = set(), 0
    for u in sent:
        repeats += u in seen
        seen.add(u)
    figures = {"repeat_share": repeats / max(len(sent), 1),
               "distinct_urls": len(seen)}
    lat = [r["lat_ms"] for r in res["untraced"]["requests"]]
    if lat:
        figures.update({"http_p50_ms": pct(lat, 50), "http_p95_ms": pct(lat, 95),
                        "http_rps": len(lat) / res["untraced"]["wall_s"],
                        "http_samples": len(lat), "http_beyond_p95": beyond(lat, 95)})
    return {"attempted": attempted, "failed": failed, "notes": notes[:20],
            "figures": figures}


def check_pipeline(res, props):
    con = connect(props["data"], ["documents"])
    attempted = failed = 0
    notes, answers = [], {}
    sql = {}
    for phase in ("untraced", "traced"):
        if phase not in res:
            continue
        ph = res[phase]["pipeline"]
        sql.update(ph["oracle_sql"])
        for p in ph["passes"]:
            for op in p["ops"]:
                key = op["key"]
                attempted += 1
                if key not in answers:
                    answers[key] = con.sql(sql[key]).arrow()
                try:
                    err = compare_tables(pq.read_table(op["out"]), answers[key])
                except Exception as e:  # unreadable output is a failed op
                    err = f"output unreadable: {e}"
                if err:
                    failed += 1
                    notes.append(f"pass {p['pass']} {key}: {err}")
    ph = res.get("untraced") or res["traced"]
    passes = [p["wall_s"] for p in ph["pipeline"]["passes"]]
    return {"attempted": attempted, "failed": failed, "notes": notes,
            "figures": {"pipeline_pass_s": statistics.median(passes),
                        "pipeline_passes": len(passes)}}


SURVIVORS_SQL = r"""
WITH nrm AS (
  SELECT doc_id, trim(regexp_replace(nfc_normalize(text),
           '[ \t\n\x0B\f\r]+', ' ', 'g')) AS text
  FROM read_parquet({files})),
toks AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t FROM nrm),
sh AS (
  SELECT doc_id, list_sort(list_distinct(list_transform(
    range(1, greatest(len(t) - 2, 0) + 1),
    i -> list_aggregate(list_slice(t, i, i + 2), 'string_agg', ' ')))) AS s
  FROM toks)
SELECT doc_id FROM (
  SELECT min(doc_id) AS doc_id FROM sh WHERE len(s) > 0 GROUP BY s
  UNION ALL
  SELECT doc_id FROM sh WHERE len(s) = 0)
ORDER BY doc_id
"""


def check_ingest(res, drawn):
    files = [ln.split("\t")[0] for ln in drawn["arrivals"]]
    want = [r[0] for r in duckdb.sql(SURVIVORS_SQL.format(files=files)).fetchall()]
    attempted = failed = 0
    notes = []
    compactions = []
    for phase in ("untraced", "traced"):
        if phase not in res:
            continue
        ph = res[phase]["ingest"]
        drains, searches = ph["drains"], ph["searches"]
        attempted += len(drains) + len(searches)
        with open(ph["survivors"]) as fh:
            got = [int(x) for x in fh.read().split()]
        if got != want:
            failed += len(drains)
            notes.append(f"{phase} survivors: {len(got)} ids, oracle {len(want)}; "
                         f"first difference {sorted(set(got) ^ set(want))[:5]}")
        bad = [s for s in searches if not s["ok"]]
        failed += len(bad)
        notes += [f"search '{s['terms']}' differs from the scan" for s in bad[:5]]
        compactions.append(sum(d["compactions"] for d in drains))
    ph = (res.get("untraced") or res["traced"])["ingest"]
    lat = [s["latMs"] for s in ph["searches"]]
    drains = ph["drains"]
    figures = {"ingest_docs_per_s": sum(d["docs"] for d in drains)
               / sum(d["wallS"] for d in drains),
               "search_p50_ms": pct(lat, 50), "search_p90_ms": pct(lat, 90),
               "searches": len(lat), "searches_checked": sum(s["checked"] for s in ph["searches"]),
               "compactions_per_phase": compactions, "survivors": len(want),
               "staged_after_search": max(s["staged"] for s in ph["searches"])}
    return {"attempted": attempted, "failed": failed, "notes": notes,
            "figures": figures}


def check_pipeline_ingest(res, work, props, drawn):
    a, b = check_pipeline(res, props), check_ingest(res, drawn)
    return {"attempted": a["attempted"] + b["attempted"],
            "failed": a["failed"] + b["failed"], "notes": (a["notes"] + b["notes"])[:20],
            "figures": {**a["figures"], **b["figures"]}}


CHECKS = {"http_navigational": check_http, "pipeline_ingest": check_pipeline_ingest}
