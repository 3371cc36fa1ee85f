"""Round-4 pinning tests: O(log n) connected components, snapshot content
pinning, bench-scope env, flagship plan guard, ADVICE fixes."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ot_spark.webtext.dedup import connected_components
from tools.gate import node_count, python_nodes


# --------------------------------------------- CC is O(log n), not O(diam)

def test_cc_long_path_converges_fast(spark):
    """A path graph of diameter 200 must converge well inside 15 rounds —
    the VERDICT-r3 acceptance for the large-star/small-star rewrite
    (min-label propagation needed ~200 rounds and raised at 25)."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "a long, b long"
    )
    labels = {
        r.id: r.label
        for r in connected_components(pairs, max_iters=15).collect()
    }
    assert labels == {i: 0 for i in range(201)}


def test_cc_mixed_components(spark):
    """Stars, chains, a cycle, and an isolated self-loop-free pair mix."""
    edges = (
        [(i, 100) for i in range(5)]          # star rooted at 100, min 0
        + [(200, 201), (201, 202), (202, 200)]  # triangle
        + [(300, 301)]
    )
    pairs = spark.createDataFrame(edges, "a long, b long")
    labels = {
        r.id: r.label for r in connected_components(pairs).collect()
    }
    expect = {i: 0 for i in range(5)}
    expect[100] = 0
    expect.update({200: 200, 201: 200, 202: 200, 300: 300, 301: 300})
    assert labels == expect


def test_cc_self_loops_and_duplicates(spark):
    pairs = spark.createDataFrame(
        [(7, 7), (1, 2), (2, 1), (1, 2)], "a long, b long"
    )
    labels = {
        r.id: r.label for r in connected_components(pairs).collect()
    }
    assert labels == {7: 7, 1: 1, 2: 1}


# --------------------------------------- snapshots pin CONTENT, not members

def _content_hash(df, cols):
    return df.select(
        F.bit_xor(F.xxhash64(*cols)).alias("h"),
        F.count(F.lit(1)).alias("n"),
    ).first()


def test_read_as_of_returns_original_bytes_after_bucket_rewrite(spark, tmp_path):
    """VERDICT-r3 #5: commit snap 1, then rewrite one of its buckets with
    DIFFERENT content (lineage row invalidated, as a repair flow would);
    read_as_of(1) must still return the ORIGINAL content — (bucket, run)
    dirs are immutable and the snap-1 manifest pins the old run."""
    from ot_spark import lineage as lin

    out, lp = str(tmp_path / "out"), str(tmp_path / "lin")
    df1 = spark.range(100).select(
        F.col("id").alias("key"), (F.col("id") % 10).alias("grid_cell"),
        F.lit("v1").alias("payload"),
    )
    lin.write_with_lineage(df1, out, lp, key_cols=["key"], n_buckets=4)
    h1 = _content_hash(lin.read_as_of(spark, out, 1), ["key", "payload"])

    # invalidate bucket 2's lineage row (repair flow), then recommit the
    # same keys with DIFFERENT payloads — only bucket 2 is rewritten
    keep = spark.read.parquet(lp).where(F.col(lin.BUCKET_COL) != 2)
    rows, schema = keep.collect(), keep.schema
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(lp)
    df2 = df1.withColumn("payload", F.lit("v2"))
    info = lin.write_with_lineage(df2, out, lp, key_cols=["key"], n_buckets=4)
    assert info["buckets_written"] == 1

    # time travel to snap 1: byte-identical to the original commit
    assert _content_hash(
        lin.read_as_of(spark, out, 1), ["key", "payload"]
    ) == h1
    # current state sees v2 in bucket 2, v1 elsewhere
    cur = lin.read_current(spark, out, lp)
    assert cur.where(
        (F.col(lin.BUCKET_COL) == 2) & (F.col("payload") != "v2")
    ).count() == 0
    assert cur.count() == 100


def test_write_time_divergence_audit(spark, tmp_path):
    """audit_input=True catches nothing on a clean write (and the clean
    path stays green); the divergence branch is exercised by the
    empty-landing check."""
    from ot_spark import lineage as lin

    out, lp = str(tmp_path / "out"), str(tmp_path / "lin")
    df = spark.range(50).select(
        F.col("id").alias("key"), (F.col("id") % 5).alias("grid_cell")
    )
    info = lin.write_with_lineage(
        df, out, lp, key_cols=["key"], n_buckets=4, audit_input=True
    )
    assert info["buckets_written"] == 4


# ------------------------------------------------- flagship plan regression

def _formatted_plan(df) -> str:
    return df.sparkSession._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _udf_fields(df) -> list[str]:
    """Field names of the struct spatial_enrich's UDF returns (its ``__e``
    column, read from the analyzed plan below the final drop)."""
    import json

    from pyspark.sql.types import StructType

    node = df._jdf.queryExecution().analyzed()
    while True:
        schema = StructType.fromJson(json.loads(node.schema().json()))
        if "__e" in schema.names:
            return schema["__e"].dataType.names
        node = node.children().apply(0)


def test_plan_guard_flags_pandas_nodes():
    """tools/gate.py's plan guard counts ArrowEvalPython and MapInArrow as
    Arrow nodes, and MapInPandas or a pandas eval type (200/204) as a
    failure, read from formatted-plan details as Spark 4.1.2 prints them."""

    def node(i, op, args):
        return f"({i}) {op}\nInput [1]: [x#1]\nArguments: {args}\n\n"

    arrow = node(2, "ArrowEvalPython", "[f(x#1)#2], [pythonUDF0#3], 251")
    arrow += node(3, "MapInArrow", "gen(x#1)#4, [y#5], false")
    assert python_nodes(arrow) == (2, 0)
    pandas = node(2, "ArrowEvalPython", "[f(x#1)#2], [pythonUDF0#3], 204")
    pandas += node(3, "ArrowEvalPython", "[g(x#1)#6], [pythonUDF0#7], 200")
    pandas += node(4, "MapInPandas", "gen(x#1)#4, [y#5], false")
    pandas += node(5, "BatchEvalPython", "[h(x#1)#8], [pythonUDF0#9]")
    assert python_nodes(pandas) == (0, 4)


def test_flagship_plan_stays_fused(spark):
    """VERDICT-r3 #8: the flagship pipeline's plan must stay one fused
    map-only stage — zero shuffle exchanges before the sink and exactly ONE
    Python boundary (the fused Arrow enricher).  A future change that adds
    an exchange or lets column pruning clone the UDF into a second
    ArrowEvalPython node fails here, not in the next round's bench.

    The same holds for each output selection of spatial_enrich, whose UDF
    returns only the requested fields: an admin-only call runs no tile
    encoder and a tiles-only call no lookup.  That node runs an Arrow
    iterator UDF over ``pyarrow`` arrays, not a pandas one."""
    import re

    from pyspark.util import PythonEvalType

    import gate_queries.common as entrymod
    from ot_spark import filters, parse
    from ot_spark.benchdata import pages_range_df
    from ot_spark.enrich_fused import spatial_enrich

    df = pages_range_df(spark, 1000, partitions=4)
    df = parse.with_coordinates(df)
    df = filters.complex_filter(df)
    df = filters.remove_tags(df)
    idx, ridx = entrymod._admin_index(), entrymod._raster_index()
    no_tiles = dict(s2_level=None, h3_resolutions=())
    calls = {
        "all": (spatial_enrich(df, idx, ridx), ["admin_key", "elev", "s2_10", "h3_9"],
                {"grid_cell", "admin_key", "raster_id", "elev", "s2_10", "h3_7", "h3_9"}),
        "admin": (spatial_enrich(df, idx, **no_tiles), ["admin_key"],
                  {"grid_cell", "admin_key"}),
        "raster": (spatial_enrich(df, None, ridx, **no_tiles), ["elev"],
                   {"raster_id", "elev"}),
        "tiles": (spatial_enrich(df, None), ["s2_10", "h3_9"],
                  {"s2_10", "h3_7", "h3_9"}),
    }
    for name, (out, fields, added) in calls.items():
        plan = _formatted_plan(out)
        shuffles = node_count(plan, "Exchange")  # "Exchange (n)" = shuffle;
        # broadcasts print as "BroadcastExchange (n)" and don't match
        assert shuffles == 0, f"{name} grew a shuffle:\n{plan}"
        arrow, other = python_nodes(plan)
        assert other == 0, f"{name}: pandas or row-at-a-time Python node:\n{plan}"
        assert arrow == 1, f"{name}: expected exactly 1 Arrow node, got {arrow}:\n{plan}"
        eval_types = re.findall(
            r"^\(\d+\) ArrowEvalPython\nInput.*\nArguments: .*, (\d+)$", plan, re.M
        )
        assert eval_types == [str(PythonEvalType.SQL_SCALAR_ARROW_ITER_UDF)], (name, eval_types)
        # the admin lookup runs inside that node: no broadcast join, and no
        # driver-side table planned as a Python RDD that every execution of
        # the plan would rebuild with a Python job
        assert "Scan ExistingRDD" not in plan, f"Python-RDD table in plan:\n{plan}"
        assert "BroadcastExchange" not in plan, f"broadcast join in plan:\n{plan}"
        assert _udf_fields(out) == fields, name
        assert set(out.columns) - set(df.columns) == added, name


# -------------------------- tokenizer evaluates ONCE per row (round-4 perf)

def _optimized_plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.mark.parametrize("build", ["minhash", "fingerprint", "langid", "quality"])
def test_tokenizer_single_evaluation(spark, build):
    """The token regexp must appear exactly once in the optimized plan.

    Catalyst inlines single-referenced non-cheap expressions into
    higher-order-function lambdas, where they are re-evaluated PER ARRAY
    ELEMENT — an inline regexp_extract_all made the shingle stage 9x
    slower and a single-referenced token-hash array made fingerprints
    quadratic.  with_tokens/with_fingerprint materialize these as bound,
    multiply-referenced columns; this pins that the Project survives
    CollapseProject (SPARK-36718 semantics)."""
    from ot_spark.webtext import dedup, textstats

    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")], "doc_id long, text string"
    )
    out = {
        "minhash": lambda: dedup.with_minhash(df, hash_mode="md5"),
        "fingerprint": lambda: textstats.with_fingerprint(df, hash_mode="md5"),
        "langid": lambda: textstats.with_langid(df),
        "quality": lambda: textstats.with_quality(df),
    }[build]()
    keep = "fingerprint_min" if build == "fingerprint" else out.columns[-1]
    plan = _optimized_plan(out.select("doc_id", keep))
    n = plan.count("regexp_extract_all")
    assert n == 1, f"tokenizer evaluated {n} times in optimized plan:\n{plan}"
    if build == "fingerprint":
        # the pre-hashed token array must also stay materialized: exactly
        # one md5 per token (plus one content-hash md5 over the raw text)
        assert plan.count("md5") <= 3, f"token re-hash leaked into lambda:\n{plan}"


# ------------------------------------- Gopher-style repetition filter

def test_repetition_metrics(spark):
    from ot_spark.webtext.textstats import with_repetition

    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam"),          # one bigram repeated 4x
            (2, "a b c d e"),                          # all distinct
            (3, ""),                                   # no tokens
            (4, "one"),                                # single token, 0 bigrams
            (5, "x y x y x y"),                        # alternating
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in with_repetition(df).collect()}
    r1 = out[1]
    assert (r1.n_bigrams, r1.top_bigram_n) == (4, 4)
    assert r1.top_bigram_frac == 1.0 and r1.dup_token_frac == 0.8
    assert not r1.keep_repetition
    r2 = out[2]
    assert (r2.n_bigrams, r2.top_bigram_n) == (4, 1)
    assert r2.dup_token_frac == 0.0
    # "a b c d e": top bigram frac 0.25 > 0.18 -> dropped by the Gopher
    # threshold; short docs are the known false-positive class of this rule
    assert r2.top_bigram_frac == 0.25 and not r2.keep_repetition
    r3 = out[3]
    assert (r3.n_bigrams, r3.top_bigram_n, r3.top_bigram_frac, r3.dup_token_frac) == (
        0, 0, 0.0, 0.0,
    )
    assert r3.keep_repetition
    r4 = out[4]
    assert (r4.n_bigrams, r4.top_bigram_n) == (0, 0)
    r5 = out[5]
    # "x y" appears 3x, "y x" 2x of 5 bigrams
    assert (r5.n_bigrams, r5.top_bigram_n) == (5, 3)
    assert r5.dup_token_frac == round(1 - 2 / 6, 6)
    assert not r5.keep_repetition


# ------------------------------------------------------------- PII scrub

def test_pii_scrub_patterns(spark):
    from ot_spark.webtext.scrub import with_pii_scrub

    df = spark.createDataFrame(
        [
            (1, "mail a.b+c@ex-ample.co.uk now"),
            (2, "host 192.168.000.1 up"),
            (3, "call +4915112345678 ok"),
            (4, "clean text only"),
            (5, "x@y.io and 10.0.0.1 and +123456789"),
            (6, "not an ip 1.2.3 nor phone +12345678"),  # too few octets/digits
            (7, "octets range-checked: 999.999.999.999 and 256.1.1.1"),
            (8, "nanp (555) 123-4567 or 555.123.4567 or +1 555 123 4567"),
            (9, "bare 5551234567 digits are not a phone"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in with_pii_scrub(df).collect()}
    assert out[1].text_scrubbed == "mail <EMAIL> now"
    assert (out[1].n_email, out[1].n_ipv4, out[1].n_phone) == (1, 0, 0)
    assert out[2].text_scrubbed == "host <IP> up"
    assert out[3].text_scrubbed == "call <PHONE> ok"
    assert out[4].text_scrubbed == "clean text only"
    assert out[5].text_scrubbed == "<EMAIL> and <IP> and <PHONE>"
    assert (out[5].n_email, out[5].n_ipv4, out[5].n_phone) == (1, 1, 1)
    assert out[6].text_scrubbed == "not an ip 1.2.3 nor phone +12345678"
    assert out[7].n_ipv4 == 0
    assert out[8].text_scrubbed == "nanp <PHONE> or <PHONE> or <PHONE>"
    assert out[9].n_phone == 0


# ------------------------------------------------ exact substring dedup

def test_substring_dup_pairs(spark):
    from ot_spark.webtext.dedup import substring_dup_pairs

    shared = "one two three four five six seven eight"          # 8 tokens
    df = spark.createDataFrame(
        [
            (1, f"intro {shared} outro"),
            (2, f"{shared} something else entirely here now"),
            (3, "totally different words with no overlap at all kept long"),
            (4, f"prefix junk {shared}"),
            (5, "short doc"),                                    # < 8 tokens
        ],
        "doc_id long, text string",
    )
    out = {(r.a, r.b): r.shared_windows for r in substring_dup_pairs(df, max_bucket=50).collect()}
    # docs 1, 2, 4 share exactly the one 8-token window; 3 and 5 pair with
    # nobody
    assert out == {(1, 2): 1, (1, 4): 1, (2, 4): 1}


def test_substring_dup_bucket_cap(spark):
    from ot_spark.webtext.dedup import substring_dup_pairs

    boiler = "b1 b2 b3 b4 b5 b6 b7 b8"
    rows = [(i, f"doc {i} says {boiler}") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # cap excludes the 10-doc boilerplate bucket entirely
    assert substring_dup_pairs(df, max_bucket=5).count() == 0
    # without the cap the bucket yields C(10,2)=45 pairs
    assert substring_dup_pairs(df, max_bucket=50).count() == 45


# ------------------------- dedup family never degrades to all-pairs plans

@pytest.mark.parametrize("qname", ["ngram_jaccard", "substring_dup", "minhash_dedup"])
def test_dedup_plans_have_no_cartesian(spark, qname):
    """VERDICT-r3 #7 acceptance, generalized: the candidate-pair queries
    must stay bucketed — a future change that reintroduces a crossJoin
    (CartesianProduct / BroadcastNestedLoopJoin) fails here, not in a
    100 TB run."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()[qname](spark, "/root/testdata/sf0.001")
    plan = _formatted_plan(df)
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        assert node_count(plan, bad) == 0, f"{qname} grew {bad}:\n{plan}"
