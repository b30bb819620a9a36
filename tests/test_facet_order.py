"""One facet order on every path. Keyword facets (cache and
distributed), MatchAll facets and ``facet_counts`` give the same
(value, count) frames: int64 counts, count desc, then value asc. The
index gets an append whose new values sort before the old ones, so
facet ordinals stop being value-sorted, and its counts tie."""

from __future__ import annotations

import pandas as pd
import pytest

from bobo_spark.build import BuildConfig, build_snapshot, delete_docs
from bobo_spark.query import IndexReader, SearchRequest
from conftest import QUERY_PATHS, path_readers

# base: fr 0-29, it 30-59 on 2024-03-01..03 (20 each);
# append: en 60-74, de 75-89 on 2024-02-01..02 (15 each)
LANGS = ["fr"] * 30 + ["it"] * 30 + ["en"] * 15 + ["de"] * 15
DAYS = ([f"2024-03-0{1 + i % 3}" for i in range(60)]
        + [f"2024-02-0{1 + i % 2}" for i in range(30)])


def _docs(spark, ids):
    pdf = pd.DataFrame({
        "doc_id": ids,
        "url": [f"u{i}" for i in ids],
        "warc_ts": pd.to_datetime([DAYS[i] for i in ids]),
        "lang": [LANGS[i] for i in ids],
        "text": [f"alpha w{i % 5} w{i % 7}" for i in ids],
    })
    return spark.createDataFrame(pdf)


def _want(counts: dict) -> pd.DataFrame:
    rows = sorted(counts.items(), key=lambda vc: (-vc[1], vc[0]))
    return pd.DataFrame({"value": pd.Series([v for v, _ in rows], dtype=object),
                         "count": pd.Series([c for _, c in rows], dtype="int64")})


def _build(spark, d: str) -> str:
    """Base build of docs 0-59, then an append of docs 60-89."""
    cfg = BuildConfig(docs_per_segment=30)
    build_snapshot(spark, _docs(spark, list(range(60))), d, cfg)
    build_snapshot(spark, _docs(spark, list(range(60, 90))), d, cfg)
    return d


@pytest.fixture(scope="module")
def index_dir(spark, tmp_path_factory):
    return _build(spark, str(tmp_path_factory.mktemp("facet_order")))


def test_one_facet_order(spark, index_dir):
    readers = path_readers(spark, index_dir)
    r = readers["cache"]
    ords = dict(zip(r.dicts["lang"]["value"], r.dicts["lang"]["ordinal"]))
    assert ords["de"] > ords["fr"]  # ordinals are not value-sorted
    want = {
        "lang": _want({"fr": 30, "it": 30, "en": 15, "de": 15}),
        "ts_bucket": _want({"2024-03-01": 20, "2024-03-02": 20,
                            "2024-03-03": 20, "2024-02-01": 15,
                            "2024-02-02": 15}),
    }
    sel = {"ts_bucket": ["2024-03-01", "2024-02-02"]}
    want_sel = _want({"fr": 10, "it": 10, "en": 7, "de": 8})
    facets = ("lang", "ts_bucket")
    for f, w in want.items():
        pd.testing.assert_frame_equal(r.facet_counts(f), w, obj=f)
        ma = r.search(SearchRequest(query=None, facets=facets))
        pd.testing.assert_frame_equal(ma.facets[f], w, obj=f"matchall {f}")
    ma = r.search(SearchRequest(query=None, facets=("lang",), selections=sel))
    pd.testing.assert_frame_equal(ma.facets["lang"], want_sel, obj="matchall sel")
    for path in QUERY_PATHS:
        kw = readers[path].search(SearchRequest(query="alpha", facets=facets))
        for f, w in want.items():
            pd.testing.assert_frame_equal(kw.facets[f], w, obj=f"{path} {f}")
        kw = readers[path].search(SearchRequest(query="alpha", facets=("lang",),
                                                selections=sel))
        pd.testing.assert_frame_equal(kw.facets["lang"], want_sel,
                                      obj=f"{path} sel")


def test_facet_counts_keeps_deleted_value(spark, tmp_path):
    """Under deletes, a value whose every doc is deleted stays in
    ``facet_counts`` with count 0 (keyword facets drop it)."""
    d = _build(spark, str(tmp_path))
    delete_docs(spark, d, list(range(75, 90)))  # every "de" doc
    r = IndexReader(spark, d)
    want = _want({"fr": 30, "it": 30, "en": 15, "de": 0})
    pd.testing.assert_frame_equal(r.facet_counts("lang"), want)
    kw = r.search(SearchRequest(query="alpha", facets=("lang",)))
    pd.testing.assert_frame_equal(kw.facets["lang"], want.iloc[:3])
