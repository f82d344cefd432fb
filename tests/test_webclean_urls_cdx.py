"""C4 line cleaning, paragraph dedup, URL quality, and the CDX index:
semantics against hand-built corpora + Python oracles, and plan
properties (the cleaners must stay narrow; the dedup must never go
cartesian)."""

from __future__ import annotations

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from website_indexer_spark.functions.urlstats import (
    url_quality_columns,
    url_quality_filter,
)
from website_indexer_spark.functions.webclean import (
    c4_clean,
    c4_line_stats,
)
from website_indexer_spark.operators.dedup import dedup_paragraphs
from website_indexer_spark.sources.cdx import (
    cdx_index,
    read_cdxj,
    surt_key,
    write_cdxj,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# --------------------------------------------------------------------
# C4 line cleaning
# --------------------------------------------------------------------

C4_DOC = "\n".join(
    [
        "This line survives the gauntlet.",       # kept
        "no terminal punctuation here",            # dropped: no punct
        "Short.",                                  # dropped: < 3 words
        "Enable javascript to continue reading.",  # dropped: javascript
        "Please read our privacy policy today.",   # dropped: phrase
        "Another perfectly good long line!",       # kept
        'A quoted ending also counts."',           # kept
    ]
)


def test_c4_line_rules(spark):
    out = c4_line_stats(_docs(spark, [(1, C4_DOC)])).first()
    assert out["n_lines"] == 7
    assert out["n_kept"] == 3
    assert not out["bad_page"]
    assert out["clean_text"] == (
        "This line survives the gauntlet.\n"
        "Another perfectly good long line!\n"
        'A quoted ending also counts."'
    )


def test_c4_page_rules(spark):
    three_good = (
        "One good long line here.\nTwo good long lines here.\n"
        "Three good long lines here."
    )
    rows = [
        (1, three_good),                                   # survives
        (2, three_good + "\nlorem ipsum dolor sit."),      # lorem page
        (3, three_good + "\nvar f = function() { x };"),   # curly page
        (4, "Only two good lines here.\nAnd the second one here."),
        (5, ""),                                           # empty
    ]
    out = c4_clean(_docs(spark, rows)).toPandas()
    assert sorted(out.doc_id) == [1]
    assert out.iloc[0].text == three_good
    assert out.iloc[0].n_kept == 3
    stats = c4_line_stats(_docs(spark, rows)).toPandas().set_index("doc_id")
    assert bool(stats.loc[2].bad_page) and bool(stats.loc[3].bad_page)
    assert stats.loc[5].n_lines == 0 and stats.loc[5].clean_text == ""


def test_c4_plan_is_narrow(spark):
    """The whole cleaner is one projection chain: no Exchange, no
    Python UDF — it runs inside the scan stage at any scale."""
    df = _docs(spark, [(1, C4_DOC)])
    for q in (c4_line_stats(df), c4_clean(df)):
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert "Python" not in plan


# --------------------------------------------------------------------
# Paragraph dedup
# --------------------------------------------------------------------


def _para_oracle(rows):
    """First-occurrence-wins line dedup in plain Python."""
    seen = set()
    out = {}
    for doc_id, text in sorted(rows):
        lines = [l.strip() for l in text.split("\n")]
        lines = [l for l in lines if l]
        kept = []
        for l in lines:
            if l not in seen:
                seen.add(l)
                kept.append(l)
        out[doc_id] = (len(lines), len(kept), "\n".join(kept))
    return out


PARA_ROWS = [
    (1, "alpha beta gamma\ncommon footer line\nunique one here"),
    (2, "common footer line\ndelta epsilon zeta\ncommon footer line"),
    (3, "common footer line\nalpha beta gamma"),
    (4, ""),
    (5, "unique one here\nbrand new line five"),
]


def test_dedup_paragraphs_matches_oracle(spark):
    got = {
        r["doc_id"]: (r["n_lines"], r["n_kept"], r["text"])
        for r in dedup_paragraphs(_docs(spark, PARA_ROWS)).collect()
    }
    assert got == _para_oracle(PARA_ROWS)
    # doc 2's WITHIN-doc repeat is also cut; doc 4 survives empty
    assert got[2][2] == "delta epsilon zeta"
    assert got[4] == (0, 0, "")


def test_dedup_paragraphs_idempotent(spark):
    once = dedup_paragraphs(_docs(spark, PARA_ROWS)).select(
        "doc_id", "text"
    )
    twice = dedup_paragraphs(once).select("doc_id", "text")
    a = {r["doc_id"]: r["text"] for r in once.collect()}
    b = {r["doc_id"]: r["text"] for r in twice.collect()}
    assert a == b


def test_dedup_paragraphs_plan(spark):
    """Partial-agg firsts (skew dies map-side), equi-join only."""
    plan = (
        dedup_paragraphs(_docs(spark, PARA_ROWS))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "partial_min" in plan or "partial" in plan.lower()


# --------------------------------------------------------------------
# URL quality
# --------------------------------------------------------------------


def test_url_features(spark):
    urls = spark.createDataFrame(
        [
            (1, "https://WWW.Example.COM:8443/a/b/c?x=1&y=2#frag"),
            (2, "http://casino.example.com/play"),
            (3, "http://ok.example.com/path9/page123?utm_source=x"),
            (4, "https://plain.example.com/"),
        ],
        "doc_id long, url string",
    )
    f = {
        r["doc_id"]: r
        for r in urls.select(
            "doc_id", *url_quality_columns(F.col("url"))
        ).collect()
    }
    assert f[1]["host"] == "www.example.com"
    assert f[1]["scheme"] == "https"
    assert f[1]["path_depth"] == 3
    assert f[1]["n_params"] == 2
    assert not f[1]["blocklisted"]
    assert f[2]["blocklisted"]
    assert f[3]["n_params"] == 1
    assert f[4]["n_params"] == 0 and f[4]["path_depth"] == 1
    digits = sum(c.isdigit() for c in "http://ok.example.com/path9/page123?utm_source=x")
    assert f[3]["digit_ratio"] == digits / len(
        "http://ok.example.com/path9/page123?utm_source=x"
    )


def test_url_filter_and_plan(spark):
    urls = spark.createDataFrame(
        [
            (1, "http://ok.example.com/fine"),
            (2, "http://casino.example.com/x"),
            (3, "http://ok.example.com/" + "d/" * 20),  # too deep
            (4, "http://ok.example.com/" + "1" * 60),   # digit-heavy
        ],
        "doc_id long, url string",
    )
    kept = url_quality_filter(urls)
    assert [r["doc_id"] for r in kept.collect()] == [1]
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Python" not in plan


# --------------------------------------------------------------------
# CDX index
# --------------------------------------------------------------------


def test_surt_key(spark):
    cases = [
        ("https://WWW.Example.COM/Path/File?b=2&a=1", "com,example)/path/file?a=1&b=2"),
        ("http://example.com:80/", "com,example)/"),
        ("https://example.com:443/x", "com,example)/x"),
        ("http://example.com:8080/x", "com,example:8080)/x"),
        ("http://a.b.example.org", "org,example,b,a)/"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r[0] for r in df.select(surt_key(F.col("url"))).collect()]
    assert got == [want for _, want in cases]


def _pages(spark):
    from website_indexer_spark.sources.synth import pages_from_documents

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    return pages_from_documents(docs)


def test_cdxj_roundtrip_and_sorted(spark, tmp_path):
    idx = cdx_index(_pages(spark))
    path = str(tmp_path / "cdxj")
    write_cdxj(idx, path, shards=4)
    back = read_cdxj(spark, path)
    a = idx.orderBy("surt", "ts14", "url").toPandas()
    b = back.orderBy("surt", "ts14", "url").toPandas()
    assert list(a.columns) == list(b.columns)
    assert a.equals(b)
    # shards in name order concatenate to a globally sorted index
    keys = []
    for f in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(f) as fh:
            for line in fh:
                surt, ts, blob = line.rstrip("\n").split(" ", 2)
                json.loads(blob)  # every blob is valid JSON
                keys.append((surt, ts))
    assert len(keys) == idx.count()
    assert keys == sorted(keys)


def test_cdx_plan_shape(spark):
    """Index derivation adds NO exchange of its own on top of the
    pages input (the derivation's doc_id self-join is the input's,
    not the index's) and never goes cartesian or to Python."""
    plan = cdx_index(_pages(spark))._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "Python" not in plan
    # over a plain single-relation scan the index is fully narrow
    docs = _pages(spark).select(
        "url", "warc_ts", "html", "status_code", "content_type"
    ).localCheckpoint()
    plan2 = cdx_index(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan2


# --------------------------------------------------------------------
# Cross-snapshot paragraph dedup (relational + bucketed)
# --------------------------------------------------------------------

SNAP_ROWS = [
    (100, "published footer line\nold content alpha"),
    (101, "old content beta\npublished footer line"),
]
INC_ROWS = [
    (1, "published footer line\nfresh content one"),
    (2, "fresh shared line\nfresh content two\nold content alpha"),
    (3, "fresh shared line\nfresh content three"),
    (4, "published footer line\nold content beta"),
]


def _snap_oracle():
    snap_lines = set()
    for _, text in SNAP_ROWS:
        snap_lines.update(l for l in text.split("\n") if l)
    seen = set(snap_lines)
    out = {}
    for doc_id, text in sorted(INC_ROWS):
        lines = [l for l in (x.strip() for x in text.split("\n")) if l]
        kept = []
        for l in lines:
            if l not in seen:
                seen.add(l)
                kept.append(l)
        out[doc_id] = (len(lines), len(kept), "\n".join(kept))
    return out


def test_paragraph_dedup_snapshot_semantics(spark):
    from website_indexer_spark.operators.dedup import (
        dedup_paragraphs_against_snapshot,
    )

    got = {
        r["doc_id"]: (r["n_lines"], r["n_kept"], r["text"])
        for r in dedup_paragraphs_against_snapshot(
            _docs(spark, INC_ROWS), _docs(spark, SNAP_ROWS)
        ).collect()
    }
    assert got == _snap_oracle()
    # doc 4 loses everything but survives as an empty rebuild
    assert got[4] == (2, 0, "")
    # the increment-internal dup ("fresh shared line") kept once
    assert "fresh shared line" in got[2][2]
    assert "fresh shared line" not in got[3][2]


def test_paragraph_dedup_snapshot_bucketed_parity(spark, tmp_path):
    from website_indexer_spark.operators.dedup import (
        dedup_paragraphs_against_snapshot,
        dedup_paragraphs_against_snapshot_bucketed,
        write_snapshot_line_layout,
    )
    from website_indexer_spark.sources.tables import bucket_files

    inc = _docs(spark, INC_ROWS)
    snap = _docs(spark, SNAP_ROWS)
    layout = str(tmp_path / "snap_lines")
    write_snapshot_line_layout(snap, layout, n_buckets=4)
    files = bucket_files(layout)
    assert set(files) <= set(range(4)) and files
    rel = dedup_paragraphs_against_snapshot(inc, snap).toPandas()
    buck = dedup_paragraphs_against_snapshot_bucketed(
        inc, files, 4
    ).toPandas()
    key = ["doc_id", "n_lines", "n_kept", "text"]
    assert (
        rel[key].sort_values("doc_id").values.tolist()
        == buck[key].sort_values("doc_id").values.tolist()
    )


def test_paragraph_dedup_snapshot_plans(spark, tmp_path):
    from website_indexer_spark.operators.dedup import (
        dedup_paragraphs_against_snapshot,
        dedup_paragraphs_against_snapshot_bucketed,
        write_snapshot_line_layout,
    )
    from website_indexer_spark.sources.tables import bucket_files

    inc = _docs(spark, INC_ROWS)
    snap = _docs(spark, SNAP_ROWS)
    plan = (
        dedup_paragraphs_against_snapshot(inc, snap)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    # bucketed form: the snapshot never appears as a Spark scan —
    # probe goes through the Arrow-batched point-read UDF
    layout = str(tmp_path / "snap_lines2")
    write_snapshot_line_layout(snap, layout, n_buckets=4)
    plan2 = (
        dedup_paragraphs_against_snapshot_bucketed(
            inc, bucket_files(layout), 4
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "snap_lines2" not in plan2
    assert "ArrowEvalPython" in plan2 or "MapInPandas" in plan2


# ------------------------------------------------------- collapse/latest


def _capture_history(spark):
    """Hand-built capture index: one surt with a digest run, one
    without, plus a single-capture surt."""
    rows = [
        # (surt, ts14, url, mime, status, digest, length)
        ("test,a)/p", "20240101000000", "http://a.test/p", "text/html", 200, "d1", 10),
        ("test,a)/p", "20240102000000", "http://a.test/p", "text/html", 200, "d1", 10),
        ("test,a)/p", "20240103000000", "http://a.test/p", "text/html", 200, "d2", 11),
        ("test,a)/p", "20240104000000", "http://a.test/p", "text/html", 200, "d2", 11),
        ("test,a)/p", "20240105000000", "http://a.test/p", "text/html", 200, "d1", 10),
        ("test,b)/q", "20240101000000", "http://b.test/q", "text/html", 200, "x1", 5),
        ("test,b)/q", "20240102000000", "http://b.test/q", "text/html", 200, "x2", 6),
        ("test,c)/r", "20240107000000", "http://c.test/r", "text/html", 200, "z9", 7),
    ]
    return spark.createDataFrame(
        rows,
        "surt string, ts14 string, url string, mime string, "
        "status_code int, digest string, length long",
    )


def test_cdx_collapse_semantics(spark):
    from website_indexer_spark.sources.cdx import cdx_collapse

    kept = {
        (r.surt, r.ts14)
        for r in cdx_collapse(_capture_history(spark)).collect()
    }
    # runs collapse to their first capture; the d2->d1 flip back on
    # day 5 is a CHANGE and is kept (version history preserved)
    assert kept == {
        ("test,a)/p", "20240101000000"),
        ("test,a)/p", "20240103000000"),
        ("test,a)/p", "20240105000000"),
        ("test,b)/q", "20240101000000"),
        ("test,b)/q", "20240102000000"),
        ("test,c)/r", "20240107000000"),
    }


def test_cdx_collapse_idempotent(spark):
    from website_indexer_spark.sources.cdx import cdx_collapse

    once = cdx_collapse(_capture_history(spark))
    twice = cdx_collapse(once)
    assert sorted(map(tuple, once.collect())) == sorted(
        map(tuple, twice.collect())
    )


def test_cdx_latest_semantics(spark):
    from website_indexer_spark.sources.cdx import cdx_latest

    got = {
        (r.surt, r.ts14, r.digest)
        for r in cdx_latest(_capture_history(spark)).collect()
    }
    assert got == {
        ("test,a)/p", "20240105000000", "d1"),
        ("test,b)/q", "20240102000000", "x2"),
        ("test,c)/r", "20240107000000", "z9"),
    }


def test_cdx_collapse_latest_plans(spark):
    """One exchange each; cdx_latest's rank-1 folds into
    WindowGroupLimit (map-side partial top-1 before the shuffle)."""
    from website_indexer_spark.sources.cdx import cdx_collapse, cdx_latest

    hist = _capture_history(spark)
    p1 = cdx_collapse(hist)._jdf.queryExecution().executedPlan().toString()
    assert p1.count("Exchange") == 1 and "EvalPython" not in p1
    p2 = cdx_latest(hist)._jdf.queryExecution().executedPlan().toString()
    assert p2.count("Exchange") == 1 and "WindowGroupLimit" in p2


def test_cdx_merge_semantics_and_sorted_rewrite(spark, tmp_path):
    """Identical re-crawled captures fold once; a different digest at
    the same second is a distinct capture; merged output re-writes to
    globally sorted non-overlapping shards."""
    from website_indexer_spark.sources.cdx import (
        cdx_merge,
        read_cdxj,
        write_cdxj,
    )

    schema = (
        "surt string, ts14 string, url string, mime string, "
        "status_code int, digest string, length long"
    )
    pub = spark.createDataFrame(
        [
            ("com,a)/", "20240101000000", "https://a.com/", "text/html", 200, "d1", 5),
            ("com,b)/", "20240102000000", "https://b.com/", "text/html", 200, "d2", 5),
        ],
        schema,
    )
    inc = spark.createDataFrame(
        [
            # exact duplicate of the published capture -> folds once
            ("com,a)/", "20240101000000", "https://a.com/", "text/html", 200, "d1", 5),
            # same surt+second, DIFFERENT digest -> second capture kept
            ("com,a)/", "20240101000000", "https://a.com/", "text/html", 200, "d9", 5),
            # brand-new capture
            ("com,c)/", "20240103000000", "https://c.com/", "text/html", 200, "d3", 5),
        ],
        schema,
    )
    merged = cdx_merge(pub, inc)
    got = sorted(
        (r["surt"], r["ts14"], r["digest"]) for r in merged.collect()
    )
    assert got == [
        ("com,a)/", "20240101000000", "d1"),
        ("com,a)/", "20240101000000", "d9"),
        ("com,b)/", "20240102000000", "d2"),
        ("com,c)/", "20240103000000", "d3"),
    ]
    # merged index re-writes to the sorted-shard contract
    out = str(tmp_path / "merged_cdxj")
    write_cdxj(merged, out, shards=3)
    back = read_cdxj(spark, out + "/part-*")
    assert back.count() == 4
    import glob

    lines = []
    for p in sorted(glob.glob(out + "/part-*")):
        with open(p) as f:
            lines.extend(ln.split(" ", 2)[:2] for ln in f)
    assert lines == sorted(lines)
