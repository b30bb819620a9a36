"""Scale-up oracle run (r4 verdict item 5): verify a MILLIONS-scale
index against DuckDB — the sf0.01 driver oracles can't see
scale-dependent codec/boundary bugs (block splits, Arrow offset
guards, packed-key widths at large doc ids).

Reuses the scaling bench's artifacts when present (source parquet at
/tmp/bobo_bench_src_<N>.parquet, index at /tmp/bobo_scaling_idx_16) or
builds them. Checks, each vs an independent DuckDB computation over
the SAME parquet:

* BM25 conjunctive / disjunctive top-k (ids + round-4 scores)
* phrase top-k
* language-selection top-k
* facet counts for a disjunctive query
* global term stats (top-20 by df)
* MatchAll selection num_hits

Usage::

    python scripts/oracle_check_2m.py [n_docs] [index_dir]

Writes a summary line per check; exit 0 iff all green. Record the log
in ORACLE_2M.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TOK = "regexp_extract_all(lower(text), '[a-z0-9]+')"


def bm25_sql(terms: list[str], mode: str, k: int, src: str,
             lang: str | None = None) -> str:
    tlist = ", ".join(f"'{t}'" for t in sorted(set(terms)))
    having = f"HAVING count(*) = {len(set(terms))}" if mode == "and" else ""
    langj = (f"JOIN (SELECT doc_id, lang FROM '{src}') d USING (doc_id) "
             f"WHERE d.lang = '{lang}'" if lang else "")
    return f"""
WITH tok AS (SELECT doc_id, unnest({TOK}) AS term FROM '{src}'),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY 1),
st AS (SELECT (SELECT count(*) FROM '{src}')::DOUBLE AS n,
              (SELECT sum(dl) FROM dl) / (SELECT count(*) FROM '{src}')::DOUBLE AS avgdl),
dfs AS (SELECT term, count(*)::DOUBLE AS df FROM tf WHERE term IN ({tlist}) GROUP BY 1),
sc AS (
  SELECT tf.doc_id,
         sum(ln(1 + (st.n - dfs.df + 0.5) / (dfs.df + 0.5))
             * tf.tf * 2.2 / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl))) AS score
  FROM tf JOIN dfs USING (term) JOIN dl USING (doc_id), st
  GROUP BY tf.doc_id
  {having}
)
SELECT doc_id, round(score, 4) AS score
FROM sc {langj}
ORDER BY sc.score DESC, doc_id
LIMIT {k}
"""


def main() -> int:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    idx = sys.argv[2] if len(sys.argv) > 2 else "/tmp/bobo_scaling_idx_16"
    src = f"/tmp/bobo_bench_src_{n_docs}.parquet"

    from bobo_spark.build import BuildConfig, build_snapshot
    from bobo_spark.query import IndexReader, SearchRequest
    from bobo_spark.session import get_spark
    from bobo_spark.webgen import webpages

    spark = get_spark("oracle2m", cores=int(os.environ.get(
        "SPARK_GRAFT_CPUS", "16")))
    if not os.path.exists(src):
        webpages(spark, n_docs, n_partitions=64).write.mode(
            "overwrite").parquet(src)
    try:
        reader = IndexReader(spark, idx)
        assert reader.n_docs == n_docs
    except Exception:
        # a stale index of another N (or one mutated by delete/merge)
        # would be treated as a parent and APPENDED to — clear first
        shutil.rmtree(idx, ignore_errors=True)
        build_snapshot(spark, spark.read.parquet(src), idx,
                       BuildConfig(docs_per_segment=max(2000, n_docs // 64)))
        reader = IndexReader(spark, idx)

    con = duckdb.connect()
    fails: list[str] = []

    def check(name: str, got: pd.DataFrame, want: pd.DataFrame) -> None:
        t0 = time.time()
        g = got.reset_index(drop=True)
        w = want.reset_index(drop=True)
        ok = (len(g) == len(w) and list(g.columns) == list(w.columns)
              and all((g[c].to_numpy() == w[c].to_numpy()).all()
                      for c in g.columns))
        print(json.dumps({"check": name, "rows": len(g), "ok": bool(ok)}))
        if not ok:
            fails.append(name)
            print(" got:", g.head(5).to_dict("records"))
            print(" want:", w.head(5).to_dict("records"))

    glob_src = src + "/*.parquet"

    def run_phrase(name, words, k=10):
        # exact-consecutive phrase oracle, same shape as the driver
        # entry's _bm25_phrase_sql (ptf + per-token idf sum)
        m = len(words)
        match = " AND ".join(f"toks[i + {j}] = '{w}'"
                             for j, w in enumerate(words))
        idfs = " + ".join(
            f"ln(1 + (st.n - d{j}.df + 0.5) / (d{j}.df + 0.5))"
            for j in range(m))
        df_ctes = ",\n".join(
            f"d{j} AS (SELECT count(*)::DOUBLE AS df FROM tok "
            f"WHERE list_contains(toks, '{w}'))"
            for j, w in enumerate(words))
        joins = " ".join(f", d{j}" for j in range(m))
        sql = f"""
WITH tok AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM '{glob_src}'),
st AS (SELECT (SELECT count(*) FROM '{glob_src}')::DOUBLE AS n,
              (SELECT sum(len(toks)) FROM tok)::DOUBLE
                / (SELECT count(*) FROM '{glob_src}') AS avgdl),
{df_ctes},
p AS (SELECT doc_id, len(toks)::DOUBLE AS dl,
             len(list_filter(range(1, len(toks) - {m} + 2),
                             i -> {match}))::DOUBLE AS ptf
      FROM tok),
sc AS (SELECT doc_id,
              ({idfs}) * (ptf * 2.2) / (ptf + 1.2 * (0.25 + 0.75 * dl / st.avgdl))
                AS score
       FROM p, st{joins} WHERE ptf > 0)
SELECT doc_id, round(score, 4) AS score
FROM sc
-- order on the UNROUNDED score (the engine's order); rounding is
-- display-only — at 2M docs rounded ties at the k boundary are common
ORDER BY sc.score DESC, doc_id
LIMIT {k}
"""
        res = reader.search(SearchRequest(query=words, mode="phrase", k=k))
        got = pd.DataFrame({
            "doc_id": res.hits["doc_id"].astype("int64"),
            "score": res.hits["score"].round(4)})
        want = con.sql(sql).df().astype({"doc_id": "int64"})
        check(name, got, want)

    def run_bm25(name, terms, mode, k=10, lang=None):
        res = reader.search(SearchRequest(
            query=terms, mode=mode, k=k,
            selections={"lang": [lang]} if lang else {}))
        got = pd.DataFrame({
            "doc_id": res.hits["doc_id"].astype("int64"),
            "score": res.hits["score"].round(4)})
        want = con.sql(bm25_sql(terms, mode, k, glob_src,
                                lang=lang)).df().astype({"doc_id": "int64"})
        check(name, got, want)

    t0 = time.time()
    # terms chosen from the webgen syllable vocabulary with verified
    # co-occurrence at 2M docs (a query where BOTH engines return zero
    # rows would be a vacuous check)
    run_bm25("bm25_and_2m", ["ba", "da"], "and")
    run_bm25("bm25_or_2m", ["ma", "ka"], "or")
    run_phrase("bm25_phrase_2m", ["be", "ba"])
    run_bm25("bm25_lang_sel_2m", ["bi", "bo"], "or", lang="de")

    # facet counts over a disjunctive hit set
    res = reader.search(SearchRequest(query=["bo", "bu"], mode="or",
                                      k=10, facets=("lang",)))
    got = (res.facets["lang"].astype({"count": "int64"})
           .reset_index(drop=True))
    want = con.sql(f"""
WITH tok AS (SELECT doc_id, unnest({TOK}) AS term FROM '{glob_src}'),
hits AS (SELECT DISTINCT doc_id FROM tok WHERE term IN ('bo','bu'))
SELECT lang AS value, count(*)::BIGINT AS count
FROM '{glob_src}' JOIN hits USING (doc_id)
GROUP BY 1 ORDER BY count DESC, value
""").df()
    check("facet_lang_2m", got, want)

    # global term stats (exactly the incremental_snapshot_terms
    # oracle shape, at 2M)
    from pyspark.sql import functions as F
    got = (reader._terms.where(~F.col("term").startswith("\x00"))
           .select("term", F.col("df").cast("long").alias("df"),
                   F.col("cf").cast("long").alias("cf"))
           .orderBy(F.desc("df"), F.asc("term")).limit(20).toPandas())
    want = con.sql(f"""
WITH tok AS (SELECT doc_id, unnest({TOK}) AS term FROM '{glob_src}'),
t AS (SELECT term, count(DISTINCT doc_id) AS df, count(*) AS cf
      FROM tok GROUP BY 1)
SELECT term, df::BIGINT AS df, cf::BIGINT AS cf
FROM t ORDER BY df DESC, term LIMIT 20
""").df()
    check("term_stats_2m", got, want)

    # MatchAll selection num_hits (the scorer's MatchAll plan)
    res = reader.search(SearchRequest(query=None, k=5,
                                      selections={"lang": ["fr"]}))
    want_n = con.sql(
        f"SELECT count(*) FROM '{glob_src}' WHERE lang='fr'").fetchone()[0]
    ok = res.num_hits == want_n
    print(json.dumps({"check": "matchall_sel_2m", "num_hits": res.num_hits,
                      "want": int(want_n), "ok": bool(ok)}))
    if not ok:
        fails.append("matchall_sel_2m")

    print(json.dumps({"n_docs": n_docs, "elapsed_sec": round(time.time() - t0, 1),
                      "fails": fails, "green": not fails}))
    spark.stop()
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
