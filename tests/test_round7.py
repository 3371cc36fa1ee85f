"""Round-7 optimization parity tests.

Round 7 rewrites several per-row operators for speed with a hard "same
results" contract: unrolled codegen arithmetic replacing interpreted
higher-order-function folds (simsearch), Arrow-batched integer token
features replacing HOF folds/filters (textstats/curate/dedup), and a scan
parallelism floor (_read).  Each test pins BIT-EXACT equality between the
new implementation and the fold/HOF formulation it replaced, on the real
sf0.001 fixtures.
"""

from __future__ import annotations

import struct

from pyspark.sql import functions as F

from ot_spark.webtext import dedup, simsearch, textstats


def _bits(rows):
    """Serialize result rows with float64 bit-exactness."""
    out = []
    for r in rows:
        vals = []
        for v in r:
            if isinstance(v, float):
                vals.append(struct.pack("<d", v).hex())
            elif isinstance(v, list):
                vals.append(tuple(v))
            else:
                vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=repr)


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def test_unrolled_dot_and_l2_bit_parity(spark, sf_dir):
    """_dot_lit/_l2sq_lit == the zip_with/aggregate folds, bit for bit."""
    emb = _emb(spark, sf_dir)
    vals = [0.25 - 0.017 * i for i in range(64)]
    lits = F.array(*[F.lit(float(x)) for x in vals])
    vec = F.col("embedding").cast("array<double>")
    old = emb.select(
        "vec_id",
        simsearch._dot(vec, lits).alias("d"),
        simsearch._l2sq(F.slice(vec, 17, 16), F.array(*[F.lit(float(x)) for x in vals[16:32]])).alias("l"),
    ).collect()
    new = emb.select(
        "vec_id",
        simsearch._dot_lit("embedding", vals).alias("d"),
        simsearch._l2sq_lit("embedding", vals[16:32], offset=16).alias("l"),
    ).collect()
    assert _bits(old) == _bits(new)


def test_cosine_lit_bit_parity(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    q = [float(x) for x in emb.where("vec_id = 0").first().embedding]
    vec = F.col("embedding").cast("array<double>")
    qlit = F.array(*[F.lit(x) for x in q])
    old = emb.select("vec_id", simsearch.cosine_col(vec, qlit).alias("c")).collect()
    new = emb.select("vec_id", simsearch.cosine_lit("embedding", q).alias("c")).collect()
    assert _bits(old) == _bits(new)


def test_ivf_argmax_position_parity(spark, sf_dir):
    """array_position(array_max) == the strict-> when-chain argmax,
    including first-wins tie semantics."""
    emb = _emb(spark, sf_dir)
    cents = simsearch.train_ivf_centroids_portable(emb, n_centroids=8, sample=100, iters=1)
    new = simsearch.with_ivf_cell(emb, cents).select("vec_id", "ivf_cell")
    # reference: the pre-round-7 when-chain over the same rounded dots
    vec = F.col("embedding").cast("array<double>")
    dots = [
        F.round(simsearch._dot(vec, F.array(*[F.lit(float(x)) for x in c])), 9)
        for c in cents
    ]
    tmp = emb.select("vec_id", *[d.alias(f"__d{i}") for i, d in enumerate(dots)])
    best, best_val = F.lit(0), F.col("__d0")
    for i in range(1, len(cents)):
        cond = F.col(f"__d{i}") > best_val
        best = F.when(cond, F.lit(i)).otherwise(best)
        best_val = F.when(cond, F.col(f"__d{i}")).otherwise(best_val)
    old = tmp.select("vec_id", best.cast("int").alias("ivf_cell"))
    assert _bits(old.collect()) == _bits(new.collect())


def test_repetition_stats_parity(spark, sf_dir):
    """Counter-based n-gram stats == _run_stats fold over sorted n-grams."""
    docs = _docs(spark, sf_dir)
    tok = dedup.with_tokens(docs)
    toks = F.col(dedup.TOKENS_COL)
    new = tok.select(
        "doc_id", textstats.repetition_stats_col()(toks).alias("st")
    ).select("doc_id", "st.*").collect()
    sel = ["doc_id"]
    old_cols = {}
    for n in (2, 3, 4):
        st = textstats._run_stats(F.array_sort(textstats.ngrams_col(toks, n)))
        old_cols[f"best{n}"] = st["best"]
        old_cols[f"dups{n}"] = st["dups"]
    old = tok.withColumns(old_cols).select(*sel, *old_cols).collect()
    assert _bits(old) == _bits(new)


def test_clean_stats_parity(spark, sf_dir):
    """Arrow stopword/top-bigram/distinct counts == the HOF filters."""
    docs = _docs(spark, sf_dir)
    tok = dedup.with_tokens(docs)
    toks = F.col(dedup.TOKENS_COL)
    new = tok.select(
        "doc_id", textstats.token_stats_col(textstats.LANG_STOPWORDS)(toks).alias("cs")
    ).select("doc_id", "cs.*").collect()
    old_cols = {
        f"sc_{lang}": F.size(F.filter(toks, lambda t: t.isin(words)))
        for lang, words in sorted(textstats.LANG_STOPWORDS.items())
    }
    run_best = textstats._run_stats(F.array_sort(textstats.ngrams_col(toks, 2)))["best"]
    old = tok.withColumns(old_cols).withColumns(
        {"top2": run_best, "nd": F.size(F.array_distinct(toks))}
    ).select("doc_id", *old_cols, "top2", "nd").collect()
    assert _bits(old) == _bits(new)


def test_minhash_md5_parity(spark, sf_dir):
    """hashlib md5 minhash == the JVM shingle+fold md5 signature."""
    docs = _docs(spark, sf_dir)
    new = dedup.with_minhash(docs, k=4, hash_mode="md5").select(
        "doc_id", "minhash"
    ).collect()
    tok = dedup.with_tokens(docs)
    sh = dedup.shingles_col(F.col(dedup.TOKENS_COL), 3)
    old = tok.withColumn(
        "minhash", dedup.minhash_signature(sh, 4, "md5")
    ).select("doc_id", "minhash").collect()
    assert _bits(old) == _bits(new)


def test_distinct_spans_parity(spark, sf_dir):
    """Arrow distinct window spans == HOF transform+filter+array_distinct
    (as sets — order inside the array is not part of the contract)."""
    docs = _docs(spark, sf_dir)
    window = 8
    new = {
        r.doc_id: frozenset(r.s)
        for r in docs.select(
            "doc_id",
            dedup._distinct_spans_col(window)(
                dedup.tokens_col(F.col("text"))
            ).alias("s"),
        ).collect()
    }
    tok = dedup.with_tokens(docs)
    toks = F.col(dedup.TOKENS_COL)
    wins = F.filter(
        F.transform(
            toks, lambda _t, i: F.concat_ws(" ", F.slice(toks, i + 1, window))
        ),
        lambda _s, i: i <= F.size(toks) - window,
    )
    old = {
        r.doc_id: frozenset(r.s)
        for r in tok.select(
            "doc_id", F.array_distinct(wins).alias("s")
        ).collect()
    }
    assert old == new


def test_read_parallelism_floor(spark, sf_dir):
    """_read repartitions narrow scans up to defaultParallelism without
    changing contents."""
    import gate_queries.common as entrymod

    df = entrymod._read(spark, sf_dir, "documents", fan=True)
    assert df.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism
    plain = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert sorted(r.doc_id for r in df.select("doc_id").collect()) == sorted(
        r.doc_id for r in plain.select("doc_id").collect()
    )


def test_ivfpq_topk_barrier_plan(spark, sf_dir):
    """The codegen-stage barrier is present (ArrowEvalPython of the 4-byte
    cell id) so neither fused half exceeds the JVM compile limit."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()["ivfpq_topk"](spark, sf_dir)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "ArrowEvalPython" in plan or "BatchEvalPython" in plan


def test_warc_write_non_ascii_roundtrip(spark):
    """Content-Length is OCTET length (r7 fix): a non-ASCII payload must
    survive write->parse framing byte-exactly."""
    from ot_spark.webtext.warc import parse_warc_records, write_warc_records

    rows = [
        (1, 0, "https://site1.org/p/1", 1735689600, 7, "naïve€"),
        (1, 1, "https://site1.org/p/1", 1735776000, 3, "abc"),
        (2, 0, "https://site2.org/p/2", 1735689600, 12, "WARC/1.0\r\nß"),
    ]
    recs = spark.createDataFrame(
        rows,
        "doc_id long, rec_idx int, target_uri string, warc_epoch long, "
        "content_length long, payload string",
    )
    out = parse_warc_records(write_warc_records(recs))
    got = sorted(
        map(tuple, out.select(
            "doc_id", "rec_idx", "target_uri", "warc_epoch", "payload"
        ).collect())
    )
    want = sorted((r[0], r[1], r[2], r[3], r[5]) for r in rows)
    assert got == want
    # and the parsed content_length is the BYTE count of the payload
    for r in out.collect():
        assert r["content_length"] == len(r["payload"].encode("utf-8"))


def _plan_of(df):
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_substring_dup_shared_shuffle_plan(spark, sf_dir):
    """The span stream is repartitioned on the bucket key so all three
    consumers share one shuffle stage (r7): the plan carries a
    REPARTITION_BY_COL exchange on wk, and results match the unshared
    formulation exactly."""
    from ot_spark.webtext.dedup import substring_dup_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df = substring_dup_pairs(docs, max_bucket=50)
    assert "REPARTITION_BY_COL" in _plan_of(df)
    got = sorted(map(tuple, df.collect()))
    # reference: span-keyed mode (independent code path, same contract)
    ref = sorted(
        map(tuple, substring_dup_pairs(
            docs, max_bucket=50, key_mode="span"
        ).collect())
    )
    assert got == ref


def test_read_fan_threshold(spark, sf_dir):
    """fan=<rows>: below the footer-row threshold the scan is untouched;
    at/below it the floor engages."""
    import gate_queries.common as entrymod

    import pyarrow.parquet as pq

    rows = pq.read_metadata(f"{sf_dir}/documents.parquet").num_rows
    plain = spark.read.parquet(f"{sf_dir}/documents.parquet")
    below = entrymod._read(spark, sf_dir, "documents", fan=rows + 1)
    assert below.rdd.getNumPartitions() == plain.rdd.getNumPartitions()
    at = entrymod._read(spark, sf_dir, "documents", fan=rows)
    assert at.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism


def test_lineage_metadata_driver_side_roundtrip(spark, tmp_path):
    """_write_tiny's pyarrow fast path and the Spark fallback produce
    interchangeable files: a log written locally reads back through both
    _meta_rows and spark.read with the DDL's types."""
    from ot_spark import lineage as lin

    path = str(tmp_path / "snaplog")
    lin._write_tiny(
        spark, [(1, None, 123, "append", "r1", 5, 0, "struct<k:bigint>")],
        "snapshot_id long, parent_id long, ts long, operation string, "
        "run_id string, buckets_written long, buckets_skipped long, "
        "data_schema string", path,
    )
    lin._write_tiny(
        spark, [(2, 1, 124, "overwrite", "r2", 3, 2, "struct<k:bigint>")],
        "snapshot_id long, parent_id long, ts long, operation string, "
        "run_id string, buckets_written long, buckets_skipped long, "
        "data_schema string", path,
    )
    rows = sorted(lin._meta_rows(spark, path), key=lambda r: r.snapshot_id)
    assert [r.snapshot_id for r in rows] == [1, 2]
    assert rows[0].parent_id is None and rows[1].parent_id == 1
    sdf = spark.read.parquet(path)
    assert dict(sdf.dtypes)["snapshot_id"] == "bigint"
    assert sdf.count() == 2


def test_fused_split_threshold_matches_window_path(spark, fixture_dir):
    """The fused 3-point elevation threshold (raster.make_lookup3 inside
    split_ways) reproduces the lag/lead window form bit-for-bit: same kept
    nodes, same ids, same elevations, on a fixture where neighbors matter
    (multi-point segments crossing tiles of varying elevation)."""
    from pyspark.sql import Window, functions as F

    from ot_spark import densify, raster
    from ot_spark.enrich_fused import spatial_enrich

    rdf = spark.read.parquet(f"{fixture_dir}/raster_tiles.parquet")
    ridx = raster.RasterIndex.from_df(rdf)
    nodes = spark.createDataFrame(
        [("a", 0.1, 0.1, None), ("b", 0.1, 1.9, 150.0), ("c", 1.9, 1.9, None),
         ("d", 1.9, 0.1, 80.0)],
        "url string, lat double, lon double, elev double",
    )
    links = spark.createDataFrame(
        [(1, ["a", "b", "c"]), (2, ["c", "d"]), (3, ["d", "a", "d"])],
        "link_id long, refs array<string>",
    )
    fused, _ = densify.split_ways(
        links, nodes, ridx, res_lon=0.3, res_lat=0.3, threshold=0.05
    )

    # reference: the window form, built from the same primitives
    seg = densify.explode_segments(links, nodes)
    inter = densify.interpolate(seg, 0.3, 0.3)
    inter = spatial_enrich(inter, None, ridx, s2_level=None, h3_resolutions=())
    inter = inter.withColumn("elev0", F.coalesce("elev", F.lit(0.0)))
    w = Window.partitionBy("link_id", "pos").orderBy("i")
    before = F.coalesce(F.lag("elev0").over(w), F.coalesce("from_elev", F.lit(0.0)))
    after = F.coalesce(F.lead("elev0").over(w), F.coalesce("to_elev", F.lit(0.0)))
    kept = inter.withColumn(
        "keep", F.abs(F.col("elev0") - (before + after) / F.lit(2.0)) >= F.lit(0.05)
    ).where("keep")
    ref = densify.assign_split_ids(kept, mode="contract")

    got = {(r.node_id, r.link_id, r.pos, r.i, r.lat, r.lon, r.elev)
           for r in fused.collect()}
    want = {(r.node_id, r.link_id, r.pos, r.i, r.lat, r.lon, r.elev0)
            for r in ref.collect()}
    assert got and got == want


def test_table_rows_matches_count(spark, sf_dir):
    import gate_queries.common as entrymod

    for name in ("documents", "orders"):
        want = entrymod._read(spark, sf_dir, name).count()
        assert entrymod._table_rows(spark, sf_dir, name) == want


def test_explode_segments_edge_shapes(spark):
    """Pairs-from-array segment construction: empty / single / null refs
    produce no segments; multi-ref links produce consecutive pairs in pos
    order with both endpoints' coordinates."""
    from pyspark.sql import functions as F

    from ot_spark import densify

    nodes = spark.createDataFrame(
        [("a", 0.0, 0.0, None), ("b", 1.0, 0.5, 7.0), ("c", 2.0, 1.0, None)],
        "url string, lat double, lon double, elev double",
    )
    links = spark.createDataFrame(
        [(1, ["a", "b", "c"]), (2, ["a"]), (3, []), (4, None), (5, ["b", "zz"])],
        "link_id long, refs array<string>",
    )
    seg = densify.explode_segments(links, nodes).collect()
    by_link = {}
    for r in seg:
        by_link.setdefault(r.link_id, []).append(r)
    assert set(by_link) == {1, 5}
    s1 = sorted(by_link[1], key=lambda r: r.pos)
    assert [(r.pos, r.from_url, r.to_url) for r in s1] == [
        (0, "a", "b"), (1, "b", "c")]
    assert s1[0].from_lat == 0.0 and s1[0].to_lat == 1.0
    assert s1[0].to_elev == 7.0 and s1[1].from_elev == 7.0
    # unknown endpoint: segment row survives with null coords
    s5 = by_link[5][0]
    assert s5.to_url == "zz" and s5.to_lat is None


def test_rep2_stats_matches_reference_fold(spark):
    """token_stats_col with no languages (Arrow) == the retired JVM fold:
    max bigram multiplicity and distinct-token count, incl.
    empty/1-token/null."""
    from pyspark.sql import functions as F

    from ot_spark.webtext.textstats import token_stats_col

    rows = [
        (1, ["a", "b", "a", "b", "a", "b"]),   # top bigram "a b" x3
        (2, ["x"]),                            # no bigrams
        (3, []),                               # empty
        (4, None),                             # null tokens
        (5, ["q", "q", "q", "q"]),             # "q q" x3, nd=1
    ]
    df = spark.createDataFrame(rows, "id long, toks array<string>")
    got = {
        r.id: (r.st["top2"], r.st["nd"])
        for r in df.select("id", token_stats_col({})(F.col("toks")).alias("st")).collect()
    }
    assert got == {
        1: (3, 2), 2: (0, 1), 3: (0, 0), 4: (None, None), 5: (3, 1)
    }


def test_fingerprint_min_matches_fold(spark):
    """fingerprint_min_col (Arrow) == array_min over the JVM rolling fold,
    incl. short (<window) and empty token arrays."""
    from pyspark.sql import functions as F

    from ot_spark.webtext import textstats as ts

    texts = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "one two three"),          # < window tokens
        (3, ""),                        # empty
        (4, "a b c d e f g h i j k l m n o p"),
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    hashed = ts.with_tokens(df).withColumn(
        "__thash", ts.token_hashes(F.col(ts.TOKENS_COL), "md5")
    )
    ref = {
        r.doc_id: r.m
        for r in hashed.select(
            "doc_id",
            F.array_min(ts._rolling_over_hashes(F.col("__thash"), 8))
            .cast("long").alias("m"),
        ).collect()
    }
    got = {
        r.doc_id: r.m
        for r in hashed.select(
            "doc_id", ts.fingerprint_min_col(8)(F.col("__thash")).alias("m")
        ).collect()
    }
    assert got == ref and len(ref) == 4
