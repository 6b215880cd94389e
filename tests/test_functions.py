"""Training-data operator tests: dedup families, similarity, text
analysis, schema evolution back-fill, checksums, multimodal plumbing."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import make_changes
from tidb_binlog_spark.functions import checksum, dedup, multimodal, similarity, text
from tidb_binlog_spark.operators import schema_evolution


def docs_df(spark, texts):
    return spark.createDataFrame(
        [(i, t, "en", "src0", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long")


def test_exact_dedup_clusters(spark):
    d = docs_df(spark, ["a b c", "a b c", "x y z"])
    got = {r["doc_id"]: (r["canonical_id"], r["cluster_size"])
           for r in dedup.exact_dedup(d).collect()}
    assert got == {0: (0, 2), 1: (0, 2), 2: (2, 1)}


def test_minhash_identical_docs_pair(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    d = docs_df(spark, [base, base, "completely different words here now ok"])
    pairs = dedup.minhash_lsh_pairs(d).collect()
    assert [(p["doc_a"], p["doc_b"]) for p in pairs] == [(0, 1)]
    assert pairs[0]["est_jaccard"] == 1.0


def test_simhash_identical_and_pairs(spark):
    base = "one two three four five six seven eight nine ten"
    d = docs_df(spark, [base, base])
    sh = dedup.simhash(d).collect()
    assert sh[0]["simhash"] == sh[1]["simhash"]
    assert len(sh[0]["simhash"]) == 64
    pairs = dedup.simhash_pairs(d).collect()
    assert len(pairs) == 1 and pairs[0]["hamming"] == 0


def _duckdb_docs(rows, select: str) -> dict:
    """Run the DuckDB oracle's ``select`` over a ``documents``
    (doc_id, text) table holding ``rows``; {doc_id: value}."""
    import duckdb
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    return dict(con.execute(select).fetchall())


def test_simhash_np_engine_matches_expr(spark):
    """The numpy batch fold (md5 once per DISTINCT token, (V,64)
    bit-vote matrix, reduceat group-sum) equals the DuckDB oracle's
    SimHash expression (osql._SIMHASH over osql.TOKS) — on unicode,
    empty text, repeated tokens (occurrence counts weight the votes)
    and multi-space runs. NULL text, like empty text, has no token and
    hashes to 64 zeros on both sides."""
    from tidb_binlog_spark.functions import oracle_sql as osql
    rows = [(0, "one two three four five six seven eight nine ten"),
            (1, "日本語 トーク ン 化 と md5 votes"),
            (2, None), (3, ""), (4, "  pad  ded   "),
            (5, "a a a a a a a b"), (6, "b a"), (7, "x y z " * 40)]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["simhash"] for r in dedup.simhash(d).collect()}
    want = _duckdb_docs(rows, osql.DEDUP_SIMHASH)
    assert got[2] == got[3] == "0" * 64
    assert got == want


def test_minhash_np_engine_matches_expr(spark):
    """The numpy signature fold (md5 once per DISTINCT shingle, uint32
    lane keys from digest nibbles, minimum.reduceat) equals the DuckDB
    oracle's signature expression (osql._SIG over osql.SHINGLES) —
    including the <3-token fallback (shingles = [text]), empty text,
    NULL text (NULL lanes), duplicate shingles (min over multiset ==
    min over set), unicode, and the shingle_frame path with
    array_distinct'd inputs."""
    from tidb_binlog_spark.functions import oracle_sql as osql
    rows = [(0, "one two three four five six seven eight nine ten"),
            (1, "日本語 トーク ン 化 と md5 シングル 化 と md5"),
            (2, None), (3, ""), (4, "only two"),
            (5, "a b c a b c a b c a b c"), (6, "x y z " * 40),
            (7, "  pad  ded   tokens here  ")]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    want = _duckdb_docs(rows, f"""
        WITH toks AS (SELECT doc_id, text, {osql.TOKS} AS toks
                      FROM documents),
        sh AS (SELECT doc_id, {osql.SHINGLES} AS shingles FROM toks),
        bh AS (SELECT doc_id,
                      list_transform(shingles, s -> md5(s)) AS base_hashes
               FROM sh)
        SELECT doc_id, {osql._SIG} AS sig FROM bh""")
    got = {r["doc_id"]: r["sig"]
           for r in dedup.minhash_signatures(d).collect()}
    assert got == want
    assert got[2] == [None] * 12        # NULL text -> NULL lanes
    assert all(len(s) == 8 for s in got[0])
    # shingle_frame path over pre-materialized, de-duplicated arrays
    shf = dedup.with_shingles(d.select("doc_id", "text")) \
        .select("doc_id", F.array_distinct("shingles").alias("shingles"))
    got2 = {r["doc_id"]: r["sig"]
            for r in dedup.minhash_signatures(
                d, shingle_frame=shf).collect()}
    assert got2 == want                 # dedup of shingles is a no-op


def test_bucket_cap_default_is_exact_and_cap_is_loud(spark):
    """ADVICE r2 / VERDICT r3 item 4: with an overflowing bucket
    (10 identical docs, every copy in the same band buckets), the
    DEFAULT (no cap) must produce the exact all-pairs result the
    uncapped oracle computes; an explicit small cap truncates, and
    bucket_cap_report surfaces that loudly (never silent)."""
    base = "the quick brown fox jumps over the lazy dog again and again"
    n = 10
    d = docs_df(spark, [base] * n + ["completely different words here now ok"])

    # default: exact — all C(10,2) = 45 pairs present
    pairs = dedup.minhash_lsh_pairs(d).collect()
    assert len(pairs) == n * (n - 1) // 2
    assert all(p["est_jaccard"] == 1.0 for p in pairs)

    # explicit cap=3: only C(3,2) = 3 pairs survive…
    capped = dedup.minhash_lsh_pairs(d, max_bucket_size=3).collect()
    assert len(capped) == 3 * 2 // 2

    # …and the monitoring side reports the overflow (4 band buckets,
    # each with the 10 copies, 7 dropped apiece)
    sigs = dedup.minhash_signatures(d)
    exploded = (sigs.withColumn(
        "band", F.explode(F.expr(
            "transform(sequence(0, 3), b -> named_struct('band', b, 'key', "
            "md5(concat(sig[b*3], sig[b*3+1], sig[b*3+2]))))")))
        .select("doc_id", F.col("band.band").alias("band"),
                F.col("band.key").alias("bucket")))
    report = dedup.bucket_cap_report(exploded, ["band", "bucket"], 3).collect()
    assert len(report) == 4
    assert all(r["bucket_size"] == n and r["n_dropped"] == n - 3
               for r in report)


def test_ngram_jaccard_threshold(spark):
    a = "w1 w2 w3 w4 w5 w6 w7 w8"
    b = "w1 w2 w3 w4 w5 w6 w7 other"
    d = docs_df(spark, [a, b, "unrelated totally different text body"])
    got = dedup.ngram_jaccard_pairs(d, threshold=0.5).collect()
    assert [(g["doc_a"], g["doc_b"]) for g in got] == [(0, 1)]
    assert 0.5 <= got[0]["jaccard"] < 1.0


def embs_df(spark, vecs):
    return spark.createDataFrame(
        [(i, [float(x) for x in v], 0) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>, label int")


def test_brute_force_topk_orders_by_cosine(spark):
    d = 8
    q = [1.0] + [0.0] * (d - 1)
    near = [0.9] + [0.1] * (d - 1)
    far = [-1.0] + [0.0] * (d - 1)
    df = embs_df(spark, [q, near, far])     # vec 0 is the query (0 % 100 == 0)
    got = similarity.brute_force_topk(df, query_mod=100, k=2).collect()
    assert [(r["vec_id"], r["rank"]) for r in sorted(got, key=lambda r: r["rank"])] \
        == [(1, 1), (2, 2)]


def test_lsh_same_vector_same_bucket(spark):
    v = [0.5, -0.25, 1.0, 0.125] * 16
    df = embs_df(spark, [v, v])
    buckets = [r["bucket"] for r in similarity.lsh_buckets(df).collect()]
    assert buckets[0] == buckets[1] and len(buckets[0]) == similarity.N_PLANES


def test_embedding_near_dups_finds_identical(spark):
    v = [0.5, -0.25, 1.0, 0.125] * 16
    other = [(-1.0) ** i * (i + 1.0) for i in range(64)]
    df = embs_df(spark, [v, v, other])
    got = similarity.embedding_near_dups(df, threshold=0.99).collect()
    assert [(g["vec_a"], g["vec_b"]) for g in got] == [(0, 1)]


def test_embedding_near_dups_mass_duplicates_linear_output(spark):
    # the SemDeDup motivating corpus: ONE vector replicated en masse.
    # Collapse-first must report the group as rep->member star edges
    # (n-1 rows), never the quadratic all-pairs expansion — this is
    # the r8 100x-sweep finding (820x time) pinned as a contract.
    v = [0.5, -0.25, 1.0, 0.125] * 16
    other = [(-1.0) ** i * (i + 1.0) for i in range(64)]
    n_dup = 60
    df = embs_df(spark, [v] * n_dup + [other])
    got = similarity.embedding_near_dups(df, threshold=0.99).collect()
    # 59 star edges from rep 0, NOT 60*59/2 = 1770 pairs
    assert len(got) == n_dup - 1
    assert all(r["vec_a"] == 0 and r["cosine"] >= 0.99 for r in got)
    assert sorted(r["vec_b"] for r in got) == list(range(1, n_dup))
    # all-pairs contract still reachable explicitly
    full = similarity.embedding_near_dups(
        df, threshold=0.99, collapse_identical=False).collect()
    assert len(full) == n_dup * (n_dup - 1) // 2


def test_lang_id_picks_stopword_majority(spark):
    d = docs_df(spark, ["the cat and the dog in the house",
                        "el perro y la casa de la gente que si"])
    got = {r["doc_id"]: r["pred_lang"] for r in text.lang_id(d).collect()}
    assert got[0] == "en" and got[1] == "es"


def test_quality_and_token_count(spark):
    d = docs_df(spark, ["the aa bb the cc"])
    q = text.quality_score(d).collect()[0]
    assert q["n_tokens"] == 5
    assert q["stopword_ratio"] == 2 / 5
    tc = text.token_count(d).collect()[0]
    assert tc["n_ws_tokens"] == 5


def test_fingerprints_identical_docs_share_all(spark):
    t = "abcdefghijklmnopqrstuvwxyz"
    d = docs_df(spark, [t, t])
    fp = text.fingerprints(d).collect()
    by_doc = {}
    for r in fp:
        by_doc.setdefault(r["doc_id"], set()).add(r["fingerprint"])
    assert by_doc[0] == by_doc[1] and len(by_doc[0]) > 0


def test_schema_backfill_defaults(spark):
    reg = schema_evolution.SchemaRegistry()
    reg.add_version("t", 1, {"a": "0"})
    reg.add_version("t", 2, {"a": "0", "b": "42"})
    ch = make_changes(spark, [(1, "s0", 10, "I", 1), (2, "s0", 20, "I", 2)]) \
        .withColumn("schema_version",
                    F.when(F.col("pk") == 1, 1).otherwise(2).cast("long")) \
        .withColumn("row_json", F.lit('{"a": "7", "b": "9"}'))
    out = {r["pk"]: (r["a"], r["b"])
           for r in schema_evolution.backfill_defaults(ch, reg, "t").collect()}
    assert out[1] == ("7", "42")   # v1 row: b back-filled with default
    assert out[2] == ("7", "9")    # v2 row: b decoded from the image


def test_checksum_detects_difference(spark):
    a = spark.createDataFrame([(1, "x"), (2, "y")], "id long, v string")
    b = spark.createDataFrame([(1, "x"), (2, "z")], "id long, v string")

    def digest(df):
        return sorted((r["bucket"], r["n_rows"], r["digest"]) for r in
                      checksum.bucket_checksum(df, ["id", "v"]).collect())

    assert digest(a) == digest(a)
    assert digest(a) != digest(b)


def test_multimodal_decode_and_frames(spark):
    d = docs_df(spark, ["hello world " * 100])
    meta = multimodal.decode_stub(d).collect()[0]
    assert meta["n_bytes"] == 1200
    assert meta["header_hex"] == "68656C6C"          # 'hell'
    assert meta["fake_width"] == 1200 % 640 + 1
    frames = multimodal.frame_sample_stub(d, every_n_bytes=500).collect()
    assert sorted(f["frame_offset"] for f in frames) == [0, 500, 1000]


def test_typemap_surface(spark):
    from tidb_binlog_spark.functions import typemap
    df = spark.createDataFrame(
        [(-1, 5, bytes([0xFF, 0xFF])),      # uint64 max; set {a,c}; bit 65535
         (0, 0, bytes([0x00, 0x00])),        # zero everywhere
         (-9223372036854775808, 7, bytes([0x01, 0x00]))],
        "sv long, mask long, bb binary") \
        .withColumn("elems", F.expr("array('a','b','c')"))
    df = (df.withColumn("u", typemap.unsigned_bigint("sv").cast("string"))
            .withColumn("bit", typemap.bit_to_decimal("bb").cast("long"))
            .withColumn("sn", typemap.set_names("elems", "mask"))
            .withColumn("sv_back", typemap.set_value("elems", "sn"))
            .withColumn("en0", typemap.enum_name("elems", F.lit(0)))
            .withColumn("en2", typemap.enum_name("elems", F.lit(2)))
            .withColumn("ev", typemap.enum_value("elems", "en2")))
    rows = {r["sv"]: r for r in df.collect()}
    assert rows[-1]["u"] == "18446744073709551615"          # uint64 max
    assert rows[0]["u"] == "0"
    assert rows[-9223372036854775808]["u"] == "9223372036854775808"
    assert rows[-1]["bit"] == 65535 and rows[0]["bit"] == 0
    assert rows[-9223372036854775808]["bit"] == 256         # 0x0100
    assert rows[-1]["sn"] == "a,c" and rows[-1]["sv_back"] == 5
    assert rows[0]["sn"] == "" and rows[0]["sv_back"] == 0
    assert rows[-9223372036854775808]["sn"] == "a,b,c"
    assert rows[-9223372036854775808]["sv_back"] == 7
    assert rows[-1]["en0"] == "" and rows[-1]["en2"] == "b"
    assert rows[-1]["ev"] == 2


def test_curation_contamination_and_sampling(spark):
    from tidb_binlog_spark.functions import curation
    bench = docs_df(spark, ["alpha beta gamma delta epsilon"])
    corpus = spark.createDataFrame(
        [(10, "alpha beta gamma delta zeta", "en", "s", 27),
         (11, "totally unrelated words entirely here", "en", "s", 37)],
        "doc_id long, text string, lang string, source string, n_chars long")
    got = {r["doc_id"]: r for r in
           curation.contamination(corpus, bench).collect()}
    # doc 10 shares shingles "alpha beta gamma" and "beta gamma delta"
    assert 10 in got and 11 not in got
    assert got[10]["n_hits"] == 2 and got[10]["n_shingles"] == 3
    assert abs(got[10]["contamination"] - 2 / 3) < 1e-12

    # sampling: deterministic, stratum-thresholded, replay-stable
    docs = spark.createDataFrame(
        [(i, "w", "en" if i % 2 == 0 else "xx", "s", 1) for i in range(200)],
        "doc_id long, text string, lang string, source string, n_chars long")
    kept = curation.stratified_sample(docs, {"en": "80000000"}).collect()
    assert all(r["lang"] == "en" for r in kept)      # xx dropped
    assert 0 < len(kept) < 100                        # ~half of the 100 en docs
    again = curation.stratified_sample(docs, {"en": "80000000"}).collect()
    assert sorted(r["doc_id"] for r in kept) == sorted(r["doc_id"] for r in again)


def test_curation_packing_budget(spark):
    from tidb_binlog_spark.functions import curation
    docs = spark.createDataFrame(
        [(i, " ".join(["t"] * 10), "en", "s", 10) for i in range(10)]
        + [(100, " ".join(["t"] * 50), "en", "s", 50)],   # oversized doc
        "doc_id long, text string, lang string, source string, n_chars long")
    got = {r["doc_id"]: r["bin_id"]
           for r in curation.pack_sequences(docs, budget=30).collect()}
    # docs 0..9 of 10 tokens each: three per 30-token bin
    assert [got[i] for i in range(10)] == [0, 0, 0, 1, 1, 1, 2, 2, 2, 3]
    # the 50-token doc starts at cum=100 -> bin 3 (where its prefix lands)
    assert got[100] == 3
    # two-phase equivalence: a tiny id_bucket must give identical bins
    got2 = {r["doc_id"]: r["bin_id"]
            for r in curation.pack_sequences(docs, budget=30,
                                             id_bucket=4).collect()}
    assert got2 == got


def test_size_bucketed_homogeneous_partitions(spark, monkeypatch):
    """size_bucketed: no partition mixes size classes, and a dominant
    class fans out over multiple partitions instead of one straggler."""
    from tidb_binlog_spark import session
    from tidb_binlog_spark.functions import multimodal as mm
    import pyspark.sql.functions as F

    docs = spark.range(200).select(
        F.col("id").alias("doc_id"),
        # 180 small blobs (~2^4 bytes), 20 big ones (~2^12 bytes)
        F.when(F.col("id") % 10 == 0, F.expr("repeat('x', 4096)"))
         .otherwise(F.expr("repeat('y', 16)")).alias("text"))
    payloads = docs.select(
        "doc_id", F.encode("text", "UTF-8").alias("payload"))
    target = 8192
    monkeypatch.setattr(session, "ADVISORY_PARTITION_BYTES", target)
    out = mm.size_bucketed(payloads)
    per_part = (out.withColumn("pid", F.spark_partition_id())
                .groupBy("pid")
                .agg(F.sum(F.length("payload")).alias("bytes"))
                .collect())
    # no straggler: the 80 KB big class never lands on one task. Salt
    # assignment is hash-based, so a slice can stack a few blobs (max
    # observed here: 6 of 20 in one salt — deterministic Murmur3), but
    # the bound is a small multiple of the target, not the class total.
    assert max(r["bytes"] for r in per_part) <= 4 * target
    # big class: 20 * 4096 = 80 KB over 8 KB target -> ~10 salt slices
    big_parts = (out.filter(F.length("payload") > 1000)
                 .select(F.spark_partition_id().alias("pid"))
                 .distinct().count())
    assert big_parts >= 4
    assert out.count() == 200


def test_parse_timezone_rules(spark):
    """str2TimezoneOrFromDB rules (mysql.go:184-233): SYSTEM/Local
    rejected, offsets validated to [-12:59, +14:00] and normalized,
    named zones honored incl. a DST transition."""
    import pytest
    import pyspark.sql.functions as F
    from tidb_binlog_spark.functions import typemap as tm

    for bad in ("SYSTEM", "Local", "+14:01", "-13:00", "+10:60", "Not/AZone"):
        with pytest.raises(ValueError):
            tm.parse_timezone(bad)
    assert tm.parse_timezone("-6:00") == "-06:00"
    assert tm.parse_timezone("+14:00") == "+14:00"
    assert tm.parse_timezone("Asia/Kolkata") == "Asia/Kolkata"

    # DST: 2021-07-01 12:00 UTC = 08:00 in New York (EDT, -4),
    #      2021-01-01 12:00 UTC = 07:00 (EST, -5)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.createDataFrame(
        [(1625140800 * 10**9,), (1609502400 * 10**9,)], "ns long")
    got = [r[0] for r in df.select(
        tm.format_timestamp_tz(F.col("ns"), "America/New_York")).collect()]
    assert got == ["2021-07-01 08:00:00", "2021-01-01 07:00:00"]


def test_pii_scrub_masks_and_counts(spark):
    from tidb_binlog_spark.functions import curation
    d = docs_df(spark, [
        "contact me at alice@example.com or +1 555 123 4567 ok",
        "server 10.0.0.1 and ssn 123-45-6789 leaked",
        "clean document with no identifiers at all",
    ])
    got = {r["doc_id"]: r for r in curation.pii_scrub(d).collect()}
    assert got[0]["n_email"] == 1 and got[0]["n_phone"] == 1
    assert "<EMAIL>" in got[0]["clean_text"]
    assert "<PHONE>" in got[0]["clean_text"]
    assert "alice@example.com" not in got[0]["clean_text"]
    assert got[1]["n_ipv4"] == 1 and got[1]["n_ssn"] == 1
    assert "<IPV4>" in got[1]["clean_text"]
    assert "<SSN>" in got[1]["clean_text"]
    assert got[2]["has_pii"] is False
    assert got[2]["clean_text"] == "clean document with no identifiers at all"
    assert got[0]["has_pii"] is True


def test_url_domains_rollup(spark):
    from tidb_binlog_spark.functions import curation
    d = docs_df(spark, [
        "see https://example.com/a and https://example.com/b plus http://other.org/x",
        "again https://EXAMPLE.com/c here",
        "no links",
    ])
    got = {r["domain"]: (r["n_urls"], r["n_docs"])
           for r in curation.url_domains(d).collect()}
    assert got == {"example.com": (3, 2), "other.org": (1, 1)}


def test_chunk_documents_window_invariants(spark):
    """Chunk windows tile the token stream: stride-spaced offsets,
    full windows except the tail, reconstruction of the token count,
    overlap between consecutive chunks = chunk - stride."""
    from tidb_binlog_spark.functions.curation import chunk_documents
    docs = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(150))),
         (2, "one two"), (3, "")], "doc_id long, text string")
    out = chunk_documents(docs, chunk_tokens=64, stride=48)
    rows = {(r["doc_id"], r["chunk_seq"]): r
            for r in out.collect()}
    # doc 1: 150 tokens -> starts 0,48,96,144
    seqs = sorted(s for d, s in rows if d == 1)
    assert seqs == [0, 1, 2, 3]
    assert rows[(1, 0)]["n_tokens"] == 64
    assert rows[(1, 3)]["tok_off"] == 144 and rows[(1, 3)]["n_tokens"] == 6
    # overlap: last 16 tokens of chunk 0 == first 16 of chunk 1
    c0 = rows[(1, 0)]["chunk_text"].split()
    c1 = rows[(1, 1)]["chunk_text"].split()
    assert c0[48:] == c1[:16]
    # short and empty docs -> exactly one chunk each
    assert rows[(2, 0)]["n_tokens"] == 2
    assert (3, 0) in rows


def test_deterministic_shuffle_is_a_stable_permutation(spark):
    from tidb_binlog_spark.functions.curation import deterministic_shuffle
    docs = spark.createDataFrame(
        [(i, "x") for i in range(300)], "doc_id long, text string")
    a = {r["doc_id"]: r["shuffle_pos"]
         for r in deterministic_shuffle(docs, seed="s1").collect()}
    # a permutation of 0..n-1 ...
    assert sorted(a.values()) == list(range(300))
    # ... stable across replays (same seed -> same positions)
    b = {r["doc_id"]: r["shuffle_pos"]
         for r in deterministic_shuffle(docs.repartition(7),
                                        seed="s1").collect()}
    assert a == b
    # ... and a different seed produces a different permutation
    c = {r["doc_id"]: r["shuffle_pos"]
         for r in deterministic_shuffle(docs, seed="s2").collect()}
    assert sorted(c.values()) == list(range(300)) and a != c


def test_kmeans_recovers_separated_clusters(spark):
    """Lloyd's iterations on three well-separated blobs: assignments
    partition the blobs exactly, centroids land on the blob means,
    and the result is deterministic across replays."""
    from tidb_binlog_spark.functions.similarity import (
        kmeans_integer, kmeans_integer_fit)
    pts = []
    for b, base in enumerate([0, 100, 200]):
        for i in range(20):
            pts.append((b * 20 + i, [base + (i % 5), base - (i % 3)]))
    docs = spark.createDataFrame(pts, "vec_id long, qvec array<long>")
    got = kmeans_integer(docs, k=3, iters=4).select(
        "vec_id", "cluster_id").collect()
    groups = {}
    for r in got:
        groups.setdefault(r["cluster_id"], set()).add(r["vec_id"])
    assert sorted(len(g) for g in groups.values()) == [20, 20, 20]
    for g in groups.values():           # blobs never split
        assert len({v // 20 for v in g}) == 1
    # determinism
    cents = kmeans_integer_fit(docs, k=3, iters=4)
    c2 = kmeans_integer_fit(docs.repartition(5), k=3, iters=4)
    assert sorted(map(tuple, (r["cvec"] for r in cents.collect()))) == \
        sorted(map(tuple, (r["cvec"] for r in c2.collect())))


def test_semantic_dedup_keeps_lowest_id_representative(spark):
    from tidb_binlog_spark.functions.similarity import semantic_dedup_exact
    docs = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.999, 0.001]),   # near-identical pair
         (3, [0.0, 1.0]),                         # unique direction
         (4, [1.0, 0.002])],                      # dup of 1 too
        "vec_id long, embedding array<double>")
    out = {r["vec_id"]: r["is_kept"]
           for r in semantic_dedup_exact(docs, k=2, iters=2,
                                         thr_num=999,
                                         thr_den=1000).collect()}
    assert out[1] and out[3]            # representatives survive
    assert not out[2] and not out[4]    # higher-id near-dups dropped


def test_line_dedup_strips_shared_lines_only(spark):
    from tidb_binlog_spark.functions.curation import line_dedup
    boiler = "a b c d e f g h"          # one full 8-token line
    docs = spark.createDataFrame(
        [(1, boiler + " unique one text here now ok yes no"),
         (2, boiler + " other words entirely different from before x"),
         (3, boiler),                    # all-boilerplate doc
         (4, "totally unrelated text nothing shared at all here")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in line_dedup(docs, min_docs=3).collect()}
    assert len(out) == 4
    # the shared first line vanishes from every doc that carries it
    for i in (1, 2, 3):
        assert out[i]["n_removed"] == 1
        assert boiler not in out[i]["clean_text"]
    assert out[1]["clean_text"] == "unique one text here now ok yes no"
    # all-boilerplate doc survives as an empty row, not a dropped one
    assert out[3]["clean_text"] == "" and out[3]["n_lines"] == 1
    # below-threshold docs keep everything
    assert out[4]["n_removed"] == 0
    assert out[4]["clean_text"] == docs.where("doc_id = 4").first()["text"]


def test_bm25_ranks_rare_terms_above_common(spark):
    from tidb_binlog_spark.functions.scoring import bm25_scores
    # 'hash' appears in 1 of 20 docs, 'table' in all 20: the rare-term
    # doc must outscore any common-term-only doc of the same length
    rows = [(0, "hash xx yy zz")] + \
           [(i, "table xx yy zz") for i in range(1, 20)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in bm25_scores(docs).collect()}
    assert len(out) == 20               # every doc matches >= 1 term
    assert out[0]["n_matched_terms"] == 1
    assert out[0]["bm25_micro"] > out[1]["bm25_micro"] > 0
    # no-match docs are excluded
    out2 = bm25_scores(spark.createDataFrame(
        [(9, "zz yy")], "doc_id long, text string")).collect()
    assert out2 == []


def test_unigram_surprisal_orders_rare_above_common(spark):
    from tidb_binlog_spark.functions.scoring import unigram_surprisal
    # 'common' dominates the corpus; doc 2's rare tokens make it the
    # more surprising (higher mean micro-nats) document
    docs = spark.createDataFrame(
        [(1, "common common common common"),
         (2, "rare1 rare2 common common")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in unigram_surprisal(docs).collect()}
    assert out[1]["n_tokens"] == 4 and out[2]["n_tokens"] == 4
    assert out[2]["mean_surprisal_micro"] > out[1]["mean_surprisal_micro"]
    # every micro-nat count is non-negative and sums consistently
    for r in out.values():
        assert 0 <= r["mean_surprisal_micro"] <= r["surprisal_micro"]
        assert r["surprisal_micro"] // r["n_tokens"] == r["mean_surprisal_micro"]


def test_pq_encode_reconstructs_codebook_samples_exactly(spark):
    import pyspark.sql.functions as F
    from tidb_binlog_spark.functions.similarity import (
        pq_codebooks, pq_encode, pq_topk)
    # 64-dim vectors in two well-separated clusters around +/- 10
    rows = []
    for i in range(120):
        base = 10.0 if i % 2 == 0 else -10.0
        rows.append((i, [base + (0.01 * ((i * 7 + d) % 5))
                         for d in range(64)]))
    embs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cb = pq_codebooks(embs, codebook_mod=59)
    enc = pq_encode(embs, cb)
    # a vector that seeded the codebook reconstructs to itself exactly
    sample = {r["vec_id"]: r for r in
              enc.filter(F.col("vec_id") % 59 == 1).collect()}
    for r in sample.values():
        assert r["pq_recon"] == r["embedding"]
    # search: every query's top neighbors come from its own cluster
    top = pq_topk(embs, query_mod=40, k=5, codebook_mod=59)
    for r in top.collect():
        assert r["query_id"] % 2 == r["vec_id"] % 2


def test_hash_embed_deterministic_and_count_scaled(spark):
    from tidb_binlog_spark.functions.scoring import hash_embed
    from tidb_binlog_spark.functions.similarity import semantic_dedup_exact
    import pyspark.sql.functions as F
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"),
         (2, "alpha beta gamma"),            # same multiset -> same vector
         (3, "alpha alpha beta gamma"),      # repeat amplifies one bucket
         (4, ""),                            # zero-token doc
         (5, "delta epsilon zeta eta")],
        "doc_id long, text string")
    out = {r["doc_id"]: list(r["embedding"])
           for r in hash_embed(docs).collect()}
    assert len(out) == 5
    assert out[1] == out[2]
    assert out[4] == [0.0] * 64
    # doc 3 differs from doc 1 in exactly alpha's bucket, by +/-1
    diff = [a - b for a, b in zip(out[3], out[1])]
    assert sorted(map(abs, diff)) == [0.0] * 63 + [1.0]
    # every component is an exact signed integer count
    for v in out.values():
        assert all(x == int(x) for x in v)
    # the embeddings feed the semantic-dedup stack directly (zero
    # vectors gated first — cosine is undefined on them; the counts
    # are exact integers, so scale 1 quantizes losslessly): the two
    # identical docs collapse to the lower id
    emb = (hash_embed(docs)
           .filter(F.expr("exists(embedding, x -> x <> 0D)"))
           .select(F.col("doc_id").alias("vec_id"), "embedding"))
    kept = {r["vec_id"]: r["is_kept"]
            for r in semantic_dedup_exact(emb, k=2, iters=1, scale=1,
                                          thr_num=999,
                                          thr_den=1000).collect()}
    assert kept[1] and not kept[2]


def test_corpus_token_stats_zipf_surface(spark):
    from tidb_binlog_spark.functions.scoring import corpus_token_stats
    docs = spark.createDataFrame(
        [(1, "a a a b b c"), (2, "a b d")], "doc_id long, text string")
    rows = sorted(corpus_token_stats(docs, top_k=3).collect(),
                  key=lambda r: r["rank"])
    assert [(r["tok"], r["cnt"]) for r in rows] == [("a", 4), ("b", 3), ("c", 1)]
    assert [r["cum_cnt"] for r in rows] == [4, 7, 8]
    assert rows[0]["vocab_size"] == 4 and rows[0]["total_tokens"] == 9
    assert rows[-1]["cum_share"] == 8 / 9


def test_bigram_surprisal_scores_every_token_once(spark):
    from tidb_binlog_spark.functions.scoring import bigram_surprisal
    docs = spark.createDataFrame(
        [(1, "a b a b"),            # predictable alternation
         (2, "a x")],               # 'x' after 'a' is rarer
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in bigram_surprisal(docs).collect()}
    # head + one score per bigram == token count
    assert out[1]["n_scored"] == 4 and out[2]["n_scored"] == 2
    # the doc with the unpredictable continuation is more surprising
    assert (out[2]["mean_surprisal_micro"] >
            out[1]["mean_surprisal_micro"] >= 0)


def test_write_training_shards_replay_stable_and_uniform(spark, tmp_path):
    from tidb_binlog_spark.functions.curation import write_training_shards
    docs = spark.createDataFrame(
        [(i, f"token{i} " * ((i % 7) + 3), "en" if i % 3 else "es",
          "src", 10) for i in range(200)],
        "doc_id long, text string, lang string, source string, n_chars long")
    out1 = str(tmp_path / "shards1")
    write_training_shards(docs, out1, n_shards=4)
    a = spark.read.parquet(out1)
    # every doc exactly once, spread over 4 shards
    assert a.count() == 200
    assert a.select("doc_id").distinct().count() == 200
    sizes = {r["shard"]: r["c"] for r in
             a.groupBy("shard").agg(F.count("*").alias("c")).collect()}
    assert len(sizes) == 4 and all(30 <= c <= 70 for c in sizes.values())
    # replay-stable: a second run writes the identical assignment
    out2 = str(tmp_path / "shards2")
    write_training_shards(docs, out2, n_shards=4)
    b = spark.read.parquet(out2)
    key = ["doc_id", "shard", "shuffle_pos", "bin_id"]
    assert (a.select(*key).exceptAll(b.select(*key)).count() == 0
            and b.select(*key).exceptAll(a.select(*key)).count() == 0)
    # a different seed reshuffles
    out3 = str(tmp_path / "shards3")
    write_training_shards(docs, out3, n_shards=4, seed="other")
    c = spark.read.parquet(out3)
    assert c.select("doc_id", "shuffle_pos") \
        .exceptAll(a.select("doc_id", "shuffle_pos")).count() > 0


def test_bpe_learns_frequent_pairs_and_encodes_reversibly(spark):
    from tidb_binlog_spark.functions import bpe
    docs = spark.createDataFrame(
        [(1, "low low low lower lower newest newest newest newest"),
         (2, "widest widest low newest")],
        "doc_id long, text string")
    merges = bpe.learn_bpe(docs, n_merges=20)
    # the tiny corpus saturates before 20 merges; learning stops clean
    assert 10 <= len(merges) <= 20
    # 'newest' x5 dominates: its pairs are learned early; 'es' or
    # 'e'+'s…' merges must appear before any 'wid…' merge
    flat = ["".join(p) for p in merges]
    assert any("es" in m or "est" in m for m in flat[:6])
    enc = {r["doc_id"]: r for r in bpe.bpe_encode(docs, merges).collect()}
    # concatenating subwords and stripping markers recovers the text
    for doc_id, text in ((1, "low low low lower lower newest newest "
                             "newest newest"),
                         (2, "widest widest low newest")):
        rebuilt = (enc[doc_id]["bpe_text"].replace(" ", "")
                   .replace(bpe.END, " ").strip())
        assert rebuilt == text
        assert enc[doc_id]["n_words"] == len(text.split())
        # merging never yields more tokens than characters
        assert enc[doc_id]["n_bpe_tokens"] <= len(text.replace(" ", "")) \
            + enc[doc_id]["n_words"]
    # a fully-merged frequent word collapses to ONE token
    assert "newest" + bpe.END in enc[1]["bpe_text"].split()


def test_bpe_incremental_learner_matches_naive_greedy(spark):
    """The index+heap incremental merge loop must produce EXACTLY the
    merge sequence of the textbook recompute-everything greedy
    (same counts, same lexicographic tie-break)."""
    from tidb_binlog_spark.functions import bpe
    docs = spark.createDataFrame(
        [(1, "low low low lower lower newest newest newest newest"),
         (2, "widest widest low newest aaa aaa abab abab abab")],
        "doc_id long, text string")
    got = bpe.learn_bpe(docs, n_merges=30)
    # naive reference: recompute all pair counts every iteration
    freqs = {r["word"]: r["cnt"]
             for r in bpe.word_frequencies(docs).collect()}
    vocab = {tuple(list(w) + [bpe.END]): c for w, c in freqs.items()}
    want = []
    for _ in range(30):
        pairs = bpe._pair_counts(vocab)
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        want.append(best)
        vocab = bpe._merge_vocab(vocab, best)
    assert got == want


def test_bpe_learning_collect_is_capped(spark):
    """Heavy-tail vocabulary: the driver-side learning table is
    bounded by max_words/min_count (pushed into Spark BEFORE the
    collect), and merges learned on the dominating head are unchanged
    by dropping the tail."""
    from tidb_binlog_spark.functions import bpe
    head = "hello world hello world hello spark " * 20
    # 400 distinct tail "words" (typo/URL-like), each appearing once
    tail_docs = [(100 + i, f"zq{i}x{i}tail") for i in range(400)]
    docs = spark.createDataFrame(
        [(1, head), (2, head)] + tail_docs, "doc_id long, text string")
    # the cap holds inside Spark: collected table never exceeds it
    assert bpe.word_frequencies(docs, max_words=10).count() <= 10
    assert bpe.word_frequencies(docs, min_count=2).count() == 3
    capped = bpe.learn_bpe(docs, n_merges=15, min_count=2)
    head_only = spark.createDataFrame(
        [(1, head), (2, head)], "doc_id long, text string")
    uncapped_head = bpe.learn_bpe(head_only, n_merges=15)
    assert capped == uncapped_head


def test_bpe_encode_word_property_roundtrip():
    """Pure-python property: for ANY word and ANY learned merge list,
    BPE tokens concatenate back to word + end marker, and applying
    merges never yields a symbol not derivable from the merges."""
    from hypothesis import given, settings
    from hypothesis import strategies as st
    from tidb_binlog_spark.functions import bpe

    words = st.text(alphabet="abcdef", min_size=1, max_size=12)

    @given(st.lists(words, min_size=1, max_size=8), words)
    @settings(max_examples=50, deadline=None)
    def check(corpus_words, probe):
        vocab = {tuple(list(w) + [bpe.END]): 1 for w in corpus_words}
        merges = []
        for _ in range(10):
            pairs = bpe._pair_counts(vocab)
            if not pairs:
                break
            best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
            merges.append(best)
            vocab = bpe._merge_vocab(vocab, best)
        ranks = {p: i for i, p in enumerate(merges)}
        toks = bpe.encode_word(probe, ranks)
        assert "".join(toks) == probe + bpe.END
        # a corpus word it has fully learned encodes to ONE token when
        # every adjacent pair along the way was merged
        for w in corpus_words:
            assert "".join(bpe.encode_word(w, ranks)) == w + bpe.END

    check()


def test_line_dedup_identity_when_no_shared_lines(spark):
    """Property at fixture scale: a corpus with NO cross-doc repeated
    8-token windows passes through line_dedup unchanged (modulo the
    window re-join separator, which is the same single space)."""
    from tidb_binlog_spark.functions.curation import line_dedup
    # doc i's tokens are all tagged with i -> no window repeats across docs
    docs = spark.createDataFrame(
        [(i, " ".join(f"w{i}x{j}" for j in range((i % 13) + 1)))
         for i in range(60)],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in line_dedup(docs, min_docs=2).collect()}
    src = {r["doc_id"]: r["text"] for r in docs.collect()}
    assert len(out) == 60
    for i in range(60):
        assert out[i]["n_removed"] == 0
        assert out[i]["clean_text"] == src[i]


def test_incremental_dedup_exact_near_and_batch_paths(spark):
    from tidb_binlog_spark.functions.dedup import incremental_dedup
    base = "the quick brown fox jumps over the lazy dog again today"
    seen = spark.createDataFrame(
        [(100, base),
         (101, "an unrelated existing corpus document right here ok")],
        "doc_id long, text string")
    new = spark.createDataFrame(
        [(1, base),                          # exact dup of corpus
         (2, base + " extra"),               # near dup (shares bands)
         (3, "completely novel words that match nothing at all"),
         (4, "completely novel words that match nothing at all"),  # in-batch dup
         (5, "another genuinely fresh document with its own words")],
        "doc_id long, text string")
    got = sorted(r["doc_id"]
                 for r in incremental_dedup(new, seen).collect())
    # 1 exact-dropped, 2 near-dropped, 3 kept (wins in-batch), 4
    # dropped (in-batch dup of 3), 5 kept
    assert got == [3, 5]


def test_cdc_chunks_cover_and_survive_insertion(spark):
    from tidb_binlog_spark.functions.curation import cdc_chunks
    txt = "the quick brown fox jumps over the lazy dog etc " * 5
    docs = spark.createDataFrame([(1, txt)], "doc_id long, text string")
    out = sorted(cdc_chunks(docs).collect(), key=lambda r: r["chunk_no"])
    # exact cover: contiguous, non-empty, summing to the text length
    assert out[0]["start"] == 1
    assert sum(r["chunk_len"] for r in out) == len(txt)
    for prev, cur in zip(out, out[1:]):
        assert cur["start"] == prev["start"] + prev["chunk_len"]
        assert cur["chunk_len"] >= 1
    # content-defined locality: an insertion near the front leaves the
    # majority of chunk hashes intact (fixed-size chunking would shift
    # every downstream chunk)
    docs2 = spark.createDataFrame([(1, txt[:3] + "XY" + txt[3:])],
                                  "doc_id long, text string")
    out2 = cdc_chunks(docs2).collect()
    h1 = {r["chunk_md5"] for r in out}
    h2 = {r["chunk_md5"] for r in out2}
    assert len(h1 & h2) >= len(h1) * 3 // 5


def test_containment_flags_partial_copy(spark):
    from tidb_binlog_spark.functions.dedup import containment_pairs
    # A long enough that B's extra shingles rarely displace a band
    # minimum, so the LSH candidate stage still surfaces the pair
    a = " ".join(f"w{i}" for i in range(1, 31))
    b = a + " x1 x2"                  # A embedded in B + a short tail
    docs = spark.createDataFrame(
        [(1, a), (2, b),
         (3, "totally different content with nothing shared at all ok")],
        "doc_id long, text string")
    got = containment_pairs(docs, threshold=0.8).collect()
    assert [(r["doc_a"], r["doc_b"]) for r in got] == [(1, 2)]
    r = got[0]
    # every shingle of A occurs in B; B has 2 extra shingles
    assert r["containment_a_in_b"] == 1.0
    assert r["containment_b_in_a"] < 1.0


def test_corpus_source_report_counts(spark):
    from tidb_binlog_spark.functions.scoring import corpus_source_report
    long = "tok " * 25
    docs = spark.createDataFrame(
        [(1, long, "en", "src_a", 0),
         (2, long, "en", "src_a", 0),      # exact dup within src_a
         (3, "short text", "es", "src_a", 0),
         (4, "another corpus entirely", "en", "src_b", 0)],
        "doc_id long, text string, lang string, source string, n_chars long")
    rows = {r["source"]: r for r in corpus_source_report(docs).collect()}
    a = rows["src_a"]
    assert a["n_docs"] == 3 and a["n_short"] == 1
    assert a["n_langs"] == 2 and a["n_unique_texts"] == 2
    assert a["n_dup_texts"] == 1
    assert rows["src_b"]["n_docs"] == 1 and rows["src_b"]["n_dup_texts"] == 0


def test_chunk_minhash_finds_repeated_paragraph(spark):
    """A 32-token paragraph shared by two otherwise-different docs
    must surface as a chunk-level near-dup pair."""
    import __spark_entry__ as e
    para = " ".join(f"p{i}" for i in range(32))
    docs = spark.createDataFrame(
        [(1, para + " " + " ".join(f"a{i}" for i in range(32))),
         (2, " ".join(f"b{i}" for i in range(32)) + " " + para),
         (3, " ".join(f"c{i}" for i in range(40)))],
        "doc_id long, text string")
    from tidb_binlog_spark.functions import curation, dedup
    import pyspark.sql.functions as F
    chunks = curation.chunk_documents(docs, chunk_tokens=32, stride=32)
    units = chunks.select(
        (F.col("doc_id") * 1000 + F.col("chunk_seq")).alias("doc_id"),
        F.col("chunk_text").alias("text"))
    pairs = dedup.minhash_lsh_pairs(units).collect()
    # doc1-chunk0 == doc2-chunk1 (ids 1000 and 2001)
    assert [(p["doc_a"], p["doc_b"], p["est_jaccard"])
            for p in pairs] == [(1000, 2001, 1.0)]


def test_ann_doc_lsh_ranks_identical_docs_first(spark):
    """Hash-embed + LSH search: a doc identical to the query doc is
    its top neighbor with cosine 1.0."""
    from tidb_binlog_spark.functions.scoring import hash_embed
    from tidb_binlog_spark.functions.similarity import lsh_topk
    import pyspark.sql.functions as F
    same = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [(0, same), (7, same),
         (3, "totally different words everywhere here now yes ok")],
        "doc_id long, text string")
    emb = (hash_embed(docs)
           .filter(F.expr("exists(embedding, x -> x <> 0D)"))
           .select(F.col("doc_id").alias("vec_id"), "embedding"))
    got = lsh_topk(emb, query_mod=100, k=2).collect()  # query = doc 0
    top = min(got, key=lambda r: r["rank"])
    # sqrt rounding keeps self-cosine a hair under 1.0
    assert top["vec_id"] == 7 and top["cosine"] > 0.999999


def test_duplicate_spans_keep_first_and_merge(spark):
    from tidb_binlog_spark.functions.dedup import (duplicate_spans,
                                                   strip_spans)
    passage = " ".join(f"p{i}" for i in range(20))
    docs = spark.createDataFrame(
        [(1, "a b c " + passage + " x y z"),      # first occurrence — kept
         (2, "q r s t u v w " + passage + " tail end here now"),
         (3, " ".join(f"u{i}" for i in range(40))),   # unique — untouched
         (4, "short doc"),                        # < w tokens — no windows
         (5, passage + " " + passage)],           # two more copies, merged
        "doc_id long, text string")
    spans = {(r["doc_id"], r["span_start"], r["span_end"])
             for r in duplicate_spans(docs, w=8).collect()}
    # doc 2: copy at token offset 7, length 20 -> [7, 26]
    # doc 5: both copies marked (doc 1 holds the first occurrence),
    #        adjacent windows merge into ONE maximal span [0, 39]
    assert spans == {(2, 7, 26), (5, 0, 39)}
    cleaned = {r["doc_id"]: r for r in
               strip_spans(docs, duplicate_spans(docs, w=8)).collect()}
    assert cleaned[1]["n_dup_tokens"] == 0          # first copy survives
    assert cleaned[2]["clean_text"] == "q r s t u v w tail end here now"
    assert cleaned[2]["n_dup_tokens"] == 20
    assert cleaned[5]["clean_text"] == "" and cleaned[5]["n_dup_tokens"] == 40


def test_duplicate_spans_mark_all_and_within_doc(spark):
    from tidb_binlog_spark.functions.dedup import duplicate_spans
    passage = " ".join(f"p{i}" for i in range(10))
    docs = spark.createDataFrame(
        [(1, passage + " gap1 gap2 gap3 gap4 gap5 gap6 gap7 gap8 gap9 "
          + passage)],
        "doc_id long, text string")
    # keep_first=False marks BOTH in-doc occurrences; the 9-token gap
    # keeps them as two separate spans (windows straddling the gap are
    # unique, so no merge across it)
    spans = sorted((r["span_start"], r["span_end"])
                   for r in duplicate_spans(
                       docs, w=8, keep_first=False).collect())
    assert spans == [(0, 9), (19, 28)]
    # keep_first=True leaves only the second occurrence marked
    spans1 = [(r["span_start"], r["span_end"])
              for r in duplicate_spans(docs, w=8).collect()]
    assert spans1 == [(19, 28)]


def test_mix_to_weights_exact_proportions_and_determinism(spark):
    from tidb_binlog_spark.functions.curation import mix_to_weights
    rows = ([(i, "t", "en") for i in range(100)]
            + [(i + 100, "t", "fr") for i in range(30)]
            + [(i + 200, "t", "zz") for i in range(7)])  # unlisted stratum
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = mix_to_weights(docs, {"en": 3.0, "fr": 1.0}).collect()
    by_lang = {}
    for r in out:
        by_lang.setdefault(r["lang"], set()).add(r["doc_id"])
    # scale = min(100/0.75, 30/0.25) = 120 -> en 90, fr 30; zz dropped
    assert len(by_lang["en"]) == 90 and len(by_lang["fr"]) == 30
    assert "zz" not in by_lang
    assert all(r["k_target"] in (90, 30) for r in out)
    # replay-stable: same draw on a reshuffled input
    again = mix_to_weights(docs.repartition(13), {"en": 3.0, "fr": 1.0})
    got = {(r["doc_id"], r["lang"]) for r in again.collect()}
    assert got == {(r["doc_id"], r["lang"]) for r in out}


def test_decontaminate_spans_strips_only_shared_passage(spark):
    from tidb_binlog_spark.functions.dedup import (decontaminate_spans,
                                                   strip_spans)
    q = " ".join(f"q{i}" for i in range(12))       # benchmark question
    bench = spark.createDataFrame([(100, "intro " + q + " outro")],
                                  "doc_id long, text string")
    corpus = spark.createDataFrame(
        [(1, "article start " + q + " article end continues onward"),
         (2, "clean document with no overlap at all whatsoever here")],
        "doc_id long, text string")
    spans = decontaminate_spans(corpus, bench, w=8).collect()
    assert [(r["doc_id"], r["span_start"], r["span_end"])
            for r in spans] == [(1, 2, 13)]
    cleaned = {r["doc_id"]: r for r in
               strip_spans(corpus,
                           decontaminate_spans(corpus, bench, w=8)).collect()}
    # the quote is gone, the article survives
    assert cleaned[1]["clean_text"] == "article start article end continues onward"
    assert cleaned[1]["n_dup_tokens"] == 12
    assert cleaned[2]["n_dup_tokens"] == 0


def test_duplicate_spans_matches_bruteforce_reference(spark):
    """Property check: duplicate_spans over random small corpora equals
    an O(n^2) single-process reference for BOTH keep_first policies."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st
    from tidb_binlog_spark.functions.dedup import duplicate_spans

    W = 4

    def reference(texts: list[str], keep_first: bool):
        occ = []                                   # (doc_id, pos, window)
        for d, text in enumerate(texts):
            toks = [t for t in text.split(" ") if t]
            for p in range(len(toks) - W + 1):
                occ.append((d, p, " ".join(toks[p:p + W])))
        counts = {}
        for _, _, win in occ:
            counts[win] = counts.get(win, 0) + 1
        first = {}
        for d, p, win in sorted(occ):
            first.setdefault(win, (d, p))
        marked = {}
        for d, p, win in occ:
            if counts[win] < 2:
                continue
            if keep_first and first[win] == (d, p):
                continue
            marked.setdefault(d, []).append(p)
        spans = set()
        for d, ps in marked.items():
            ps.sort()
            start = prev_end = None
            for p in ps:
                if start is None or p > prev_end + 1:
                    if start is not None:
                        spans.add((d, start, prev_end))
                    start = p
                prev_end = max(prev_end if prev_end is not None else -1,
                               p + W - 1)
            spans.add((d, start, prev_end))
        return spans

    @given(st.lists(
        st.lists(st.sampled_from("a b c d".split()), min_size=0,
                 max_size=24).map(" ".join),
        min_size=1, max_size=6),
        st.booleans())
    @settings(max_examples=12, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    def check(texts, keep_first):
        docs = spark.createDataFrame(list(enumerate(texts)),
                                     "doc_id long, text string")
        got = {(r["doc_id"], r["span_start"], r["span_end"])
               for r in duplicate_spans(docs, w=W,
                                        keep_first=keep_first).collect()}
        assert got == reference(texts, keep_first)

    check()


def test_corpus_length_quantiles_nearest_rank(spark):
    from tidb_binlog_spark.functions.scoring import corpus_length_quantiles
    # src_a lengths sorted: 1..10 -> p50 = rank ceil(5.0)=5 -> 5,
    # p90 = rank 9 -> 9, p99 = rank ceil(9.9)=10 -> 10
    rows = [(i, " ".join("t" for _ in range(i)), "src_a")
            for i in range(1, 11)]
    rows += [(100, "a b c", "src_b")]          # single-doc stratum
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {r["source"]: r for r in corpus_length_quantiles(docs).collect()}
    a = got["src_a"]
    assert (a["n_docs"], a["min_tokens"], a["max_tokens"]) == (10, 1, 10)
    assert (a["p50_tokens"], a["p90_tokens"], a["p99_tokens"]) == (5, 9, 10)
    b = got["src_b"]
    assert (b["p50_tokens"], b["p90_tokens"], b["p99_tokens"]) == (3, 3, 3)


def test_mix_to_weights_absent_weighted_stratum_pins_scale_to_zero(spark):
    from tidb_binlog_spark.functions.curation import mix_to_weights
    docs = spark.createDataFrame([(i, "t", "en") for i in range(50)],
                                 "doc_id long, text string, lang string")
    # 'de' is weighted but absent from the corpus: the target mixture
    # is unachievable -> EMPTY output, never a silent 100% 'en' drift
    assert mix_to_weights(docs, {"en": 0.5, "de": 0.5}).count() == 0


def test_split_corpus_disjoint_stable_and_growth_proof(spark):
    from tidb_binlog_spark.functions.curation import split_corpus
    docs = spark.createDataFrame([(i, "t") for i in range(400)],
                                 "doc_id long, text string")
    got = {r["doc_id"]: r["split"]
           for r in split_corpus(docs, {"train": 0.8, "val": 0.1,
                                        "test": 0.1}).collect()}
    assert len(got) == 400                       # exactly one label each
    counts = {}
    for s in got.values():
        counts[s] = counts.get(s, 0) + 1
    assert counts["train"] > counts["val"] and counts["train"] > counts["test"]
    assert set(counts) == {"train", "val", "test"}
    # growth-proof: a doc's split is identical in a larger corpus
    bigger = spark.createDataFrame([(i, "t") for i in range(800)],
                                   "doc_id long, text string")
    again = {r["doc_id"]: r["split"]
             for r in split_corpus(bigger, {"train": 0.8, "val": 0.1,
                                            "test": 0.1}).collect()}
    assert all(again[d] == s for d, s in got.items())


def test_weighted_sample_bias_determinism_and_k(spark):
    """A-ES: k rows per stratum, ranks 1..k, replay-stable, and
    heavily-weighted docs crowd out light ones."""
    from pyspark.sql import functions as F
    from tidb_binlog_spark.functions.curation import weighted_sample
    docs = spark.range(0, 200).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 2 == 0).alias("heavy"),
        F.when(F.col("id") % 2 == 0, 500.0).otherwise(1.0).alias("w"),
        F.lit("s").alias("stratum"))
    out = weighted_sample(docs, "w", 20, "stratum").collect()
    assert len(out) == 20
    assert sorted(r["sample_rank"] for r in out) == list(range(1, 21))
    n_heavy = sum(r["heavy"] for r in out)
    assert n_heavy >= 17, n_heavy   # 500x weight dominates the draw
    again = weighted_sample(docs, "w", 20, "stratum").collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_inverted_index_caps_postings_before_collect(spark):
    """Posting lists are capped at max_postings (lowest doc_ids,
    ascending NUMERIC order), df counts the FULL term frequency, and
    min_df prunes the tail."""
    from tidb_binlog_spark.functions.scoring import inverted_index
    docs = spark.createDataFrame(
        [(i, "common " + ("rare " if i <= 3 else "") + f"unique{i}")
         for i in range(1, 13)] + [(100, "common end")],
        "doc_id long, text string")
    out = {r["term"]: (r["df"], r["postings"])
           for r in inverted_index(docs, min_df=3,
                                   max_postings=5).collect()}
    # 'common' in all 13 docs: df full, postings capped at 5 lowest,
    # numerically ascending (9 < 100 would break a lexicographic sort)
    assert out["common"] == (13, "1,2,3,4,5")
    assert out["rare"] == (3, "1,2,3")
    assert "unique1" not in out          # below min_df
    big = {r["term"]: r["postings"]
           for r in inverted_index(docs, min_df=13,
                                   max_postings=20).collect()}
    assert big["common"].split(",")[-1] == "100"


def test_diff_drilldown_matches_full_diff_and_localizes(spark):
    """diff_drilldown == snapshot_diff on the same inputs (keys +
    statuses), with each diff row carrying the key bucket its digest
    mismatch localized to."""
    import hashlib

    from tidb_binlog_spark.functions import checksum as cksum

    src = spark.range(0, 3000).selectExpr("id AS k", "id * 2 AS v")
    dst = (src.withColumn("v", F.when(F.col("k") == 1234,
                                      F.col("v") + 1).otherwise(F.col("v")))
           .filter(F.col("k") != 77))       # one changed + one dropped
    drill = cksum.diff_drilldown(src, dst, ["k"], ["v"]).collect()
    full = cksum.snapshot_diff(src, dst, ["k"], ["v"]).collect()
    assert sorted((r["k"], r["diff_status"]) for r in drill) == \
           sorted((r["k"], r["diff_status"]) for r in full)
    by_k = {r["k"]: r for r in drill}
    assert by_k[1234]["diff_status"] == "changed"
    assert by_k[77]["diff_status"] == "only_src"
    # the bucket is the key-md5 prefix: mismatches localized, so a
    # healthy 100 TB table drills into ~0/256 of its rows
    assert by_k[1234]["bucket"] == hashlib.md5(b"1234").hexdigest()[:2]


def test_diff_drilldown_catches_null_position_swaps(spark):
    """Review regression: rows differing only in WHICH column is NULL
    must not hash identically in phase 1 (concat_ws silently skips
    NULLs) — the sentinel fingerprint keeps drill-down == full diff
    on NULL-bearing columns and on values containing the old '|'
    separator."""
    from tidb_binlog_spark.functions import checksum as cksum

    src = spark.createDataFrame(
        [(1, "x", None), (2, "a|b", "c"), (3, "p", "q")],
        "k long, a string, b string")
    dst = spark.createDataFrame(
        [(1, None, "x"),            # NULL swapped columns
         (2, "a", "b|c"),           # '|' shifted across the separator
         (3, "p", "q")],
        "k long, a string, b string")
    drill = cksum.diff_drilldown(src, dst, ["k"], ["a", "b"]).collect()
    full = cksum.snapshot_diff(src, dst, ["k"], ["a", "b"]).collect()
    assert sorted((r["k"], r["diff_status"]) for r in drill) == \
           sorted((r["k"], r["diff_status"]) for r in full) == \
           [(1, "changed"), (2, "changed")]


def test_pca_project_exact_and_centered(spark):
    """PCA projection invariants on a tiny synthetic corpus: the
    per-component outputs are n-times-centered integer projections,
    so each pc column must sum to ~0 over the corpus (exactly 0 up to
    the per-row floor quantization residue, bounded by n * d), and
    the basis derivation is deterministic across calls."""
    from tidb_binlog_spark.functions import similarity as sim
    import random
    rnd = random.Random(7)
    rows = [(i, [rnd.uniform(-1, 1) for _ in range(8)])
            for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out1 = sim.pca_project(df, dims=8, k=3).collect()
    out2 = sim.pca_project(df, dims=8, k=3).collect()
    assert sorted(map(tuple, out1)) == sorted(map(tuple, out2))
    n = len(rows)
    for j in range(3):
        col_sum = sum(r[f"pc{j}"] for r in out1)
        # sum_i [n*(q_i . v) - s . v] = 0 exactly when offsets use the
        # same s; quantization enters only through floor on v and q,
        # which cancels in the sum by construction
        assert col_sum == 0, (j, col_sum)
    # components are not degenerate (the corpus has variance)
    assert any(r["pc0"] != 0 for r in out1)


def test_hashed_linear_score_covers_every_doc(spark):
    """The classifier scores token-less documents as 0/false and the
    per-doc score equals the direct per-token weight sum."""
    from tidb_binlog_spark.functions import scoring as sc
    import hashlib
    df = spark.createDataFrame(
        [(1, "alpha beta beta", "en", "s", 15),
         (2, "", "en", "s", 0),
         (3, "gamma", "en", "s", 5)],
        "doc_id long, text string, lang string, source string, n_chars long")
    out = {r["doc_id"]: r for r in sc.hashed_linear_score(df).collect()}
    def w(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % 2001 - 1000
    assert out[1]["score_num"] == w("alpha") + 2 * w("beta")
    assert out[1]["label"] == (out[1]["score_num"] > 0)
    assert out[2]["n_tokens"] == 0 and out[2]["score_num"] == 0
    assert out[2]["label"] is False
    assert out[3]["score_num"] == w("gamma")


def test_source_divergence_identical_sources_score_zero(spark):
    """Two sources with IDENTICAL token distributions diverge by 0;
    a source with a disjoint vocabulary diverges by exactly 1 (TV is
    1 for disjoint supports): tv_num == tv_den."""
    from tidb_binlog_spark.functions import scoring as sc
    df = spark.createDataFrame(
        [(1, "a b c", "en", "s1", 5), (2, "a b c", "en", "s2", 5),
         (3, "x y z", "en", "s3", 5), (4, "a b c", "en", "s1", 5),
         (5, "a b c", "en", "s2", 5)],
        "doc_id long, text string, lang string, source string, n_chars long")
    out = {r["source"]: r for r in sc.source_divergence(df).collect()}
    # s3 is disjoint from the rest: TV = 1
    assert out["s3"]["tv_num"] == out["s3"]["tv_den"]
    # s1 and s2 have the same distribution as each other but not as
    # the rest (the rest includes s3's disjoint mass): equal nonzero
    assert out["s1"]["tv_x1e6"] == out["s2"]["tv_x1e6"] > 0


def test_retrieve_pack_budget_and_dedup(spark):
    """Packing keeps rank order, drops exact-duplicate texts at worse
    ranks, and never exceeds the token budget."""
    from tidb_binlog_spark.functions import curation
    docs = spark.createDataFrame(
        [(10, "one two three", "en", "s", 13),      # 3 tokens
         (11, "one two three", "en", "s", 13),      # dup of 10
         (12, "four five", "en", "s", 9),           # 2 tokens
         (13, "six seven eight nine", "en", "s", 20)],  # 4 tokens
        "doc_id long, text string, lang string, source string, n_chars long")
    topk = spark.createDataFrame(
        [(0, 10, 1), (0, 11, 2), (0, 12, 3), (0, 13, 4)],
        "query_id long, doc_id long, rank int")
    out = sorted(curation.retrieve_pack(docs, topk, budget_tokens=6)
                 .collect(), key=lambda r: r["rank"])
    # doc 11 (dup text) dropped; 10 (3) + 12 (2) = 5 <= 6; adding 13
    # (4 tokens) would blow the budget
    assert [(r["doc_id"], r["cum_tokens"]) for r in out] == [(10, 3), (12, 5)]


def test_kmeans_integer_exact_separated_and_empty_cluster(spark):
    """Integer Lloyd: separated integer blobs partition exactly; with
    k above the natural cluster count the surplus centroid empties and
    carries its previous position (no crash, no NULL centroid); the
    result is partition-layout independent."""
    from tidb_binlog_spark.functions.similarity import kmeans_integer
    pts = []
    for b, base in enumerate([0, 1000, 2000]):
        for i in range(12):
            pts.append((b * 12 + i, [base + (i % 4), base - (i % 3)]))
    vecs = spark.createDataFrame(pts, "vec_id long, qvec array<long>")
    got = kmeans_integer(vecs, k=3, iters=3).collect()
    groups = {}
    for r in got:
        groups.setdefault(r["cluster_id"], set()).add(r["vec_id"])
    assert sorted(len(g) for g in groups.values()) == [12, 12, 12]
    for g in groups.values():
        assert len({v // 12 for v in g}) == 1
    # k=5 over 3 blobs: two centroids go empty, everything still
    # assigned, deterministic across a repartition
    a5 = kmeans_integer(vecs, k=5, iters=2)
    b5 = kmeans_integer(vecs.repartition(7), k=5, iters=2)
    asg_a = {r["vec_id"]: (r["cluster_id"], r["dist"]) for r in a5.collect()}
    asg_b = {r["vec_id"]: (r["cluster_id"], r["dist"]) for r in b5.collect()}
    assert len(asg_a) == 36 and asg_a == asg_b


def test_semantic_dedup_exact_drops_planted_near_dup(spark):
    """The BIGINT cross-multiplied cosine test: a planted near-copy is
    dropped in favor of its lower-id twin; an orthogonal vector
    survives; every input id comes back exactly once."""
    from tidb_binlog_spark.functions.similarity import semantic_dedup_exact
    rows = [(1, [1.0, 0.0, 0.0]), (2, [0.999, 0.01, 0.0]),
            (3, [0.0, 1.0, 0.0]), (4, [0.0, 0.0, 1.0])]
    embs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["vec_id"]: r["is_kept"]
           for r in semantic_dedup_exact(embs, k=2, iters=1,
                                         thr_num=9, thr_den=10).collect()}
    assert sorted(out) == [1, 2, 3, 4]
    assert out[1] and not out[2]
    assert out[3] and out[4]


def test_budget_select_admission_boundary_and_strata(spark):
    """The admission rule is 'running total INCLUDING the doc fits':
    the doc that would cross the budget is excluded even if later,
    smaller docs would have fit (greedy prefix, not knapsack); strata
    fill independently."""
    from tidb_binlog_spark.functions.curation import budget_select
    docs = spark.createDataFrame(
        [(1, "a " * 5, "s1"), (2, "b " * 5, "s1"), (3, "c " * 5, "s1"),
         (4, "d " * 2, "s2")],
        "doc_id long, text string, source string")
    out = budget_select(docs, budget_tokens=10, by="source")
    rows = {r["doc_id"]: r for r in out.collect()}
    s1 = [d for d in rows if rows[d]["stratum"] == "s1"]
    assert len(s1) == 2                  # third 5-token doc crosses 10
    assert 4 in rows                     # s2 fills independently
    for r in rows.values():
        assert r["cum_tokens"] <= 10


def test_bloom_membership_no_false_negatives(spark):
    """Every exactly-seen doc MUST be bloom-positive (the property the
    pre-filter's correctness rests on), and with an undersized filter
    deterministic false positives appear and are flagged."""
    seen_texts = [f"seen document number {i} alpha beta" for i in range(40)]
    new_texts = (seen_texts[:10]          # exact copies -> must hit
                 + [f"fresh document {i} gamma delta" for i in range(60)])
    seen = docs_df(spark, seen_texts)
    new = docs_df(spark, new_texts)
    # m tiny on purpose: 60 fresh docs x 3 probes over 256 bits
    out = {r["doc_id"]: r for r in
           dedup.bloom_membership(new, seen, m_bits=256,
                                  k_hashes=3).collect()}
    assert len(out) == 70
    for i in range(10):                    # copies of seen docs
        assert out[i]["maybe_seen"] and out[i]["seen_exact"]
        assert not out[i]["false_positive"]
    fps = [r for r in out.values() if r["false_positive"]]
    assert fps, "undersized filter should produce false positives"
    for r in fps:
        assert r["maybe_seen"] and not r["seen_exact"]
    # a rightly-sized filter drives FPs to zero on the same corpus
    out_big = dedup.bloom_membership(new, seen, m_bits=1 << 20,
                                     k_hashes=4).collect()
    assert not [r for r in out_big if r["false_positive"]]


def test_ngram_topk_counts_and_rank_order(spark):
    from tidb_binlog_spark.functions.scoring import ngram_topk
    d = spark.createDataFrame(
        [(0, "a b a b", "en", "s1", 7), (1, "a b c", "en", "s1", 5),
         (2, "x y", "en", "s2", 3), (3, "z", "en", "s2", 1)],
        "doc_id long, text string, lang string, source string, n_chars long")
    got = {(r["stratum"], r["gram"]): (r["rank"], r["cnt"])
           for r in ngram_topk(d, n=2, k=3).collect()}
    # s1: "a b" x3 (two in doc0, one in doc1), "b a" x1, "b c" x1
    assert got[("s1", "a b")] == (1, 3)
    assert got[("s1", "b a")][1] == 1 and got[("s1", "b c")][1] == 1
    # tie at cnt=1 breaks lexicographically: "b a" before "b c"
    assert got[("s1", "b a")][0] == 2 and got[("s1", "b c")][0] == 3
    # s2: single bigram; the 1-token doc contributes nothing
    assert got[("s2", "x y")] == (1, 1)
    assert len([k for k in got if k[0] == "s2"]) == 1


def test_phash_exact_copy_and_near_copy(spark):
    """Byte-identical payloads pair at hamming 0; a lightly-perturbed
    payload pairs at small nonzero hamming; an unrelated payload with
    no shared 16-bit chunk never becomes a candidate."""
    base = "".join(chr(65 + (i * 7) % 26) for i in range(200))
    near = base[:100] + "z" + base[101:]          # one byte changed
    rising = "".join(chr(33 + i % 94) for i in range(200))
    d = docs_df(spark, [base, base, near, rising])
    got = {(r["doc_a"], r["doc_b"]): r["hamming"]
           for r in multimodal.phash_pairs(d, max_hamming=10).collect()}
    assert got[(0, 1)] == 0
    # the single flipped byte sits between dHash grid samples, so the
    # near copy still pairs, at distance 0..10
    assert got.get((0, 2), got.get((1, 2), 99)) <= 10
    assert not [p for p in got if 3 in p]
    ph = {r["doc_id"]: r["phash"]
          for r in multimodal.phash_stub(d).collect()}
    assert len(ph[0]) == 64 and set(ph[0]) <= {"0", "1"}
    assert ph[0] == ph[1] != ph[3]


def test_kmv_distinct_small_stratum_is_exact_and_big_estimates(spark):
    from tidb_binlog_spark.functions.scoring import kmv_distinct
    texts = ([f"alpha beta gamma {i} delta {i % 7}" for i in range(400)]
             + ["tiny corpus one two three"])
    rows = ([(i, t, "en", "big", len(t)) for i, t in enumerate(texts[:400])]
            + [(400, texts[400], "en", "small", 26)])
    d = spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long")
    got = {r["stratum"]: r for r in kmv_distinct(d, k=64).collect()}
    # below k distinct shingles -> the sketch degrades to exact
    assert got["small"]["k_used"] < 64
    assert got["small"]["est_distinct"] == got["small"]["exact_distinct"]
    # above k -> estimate within 30% of truth (k=64 -> ~12% stderr)
    big = got["big"]
    assert big["k_used"] == 64
    assert abs(big["est_distinct"] - big["exact_distinct"]) \
        <= big["exact_distinct"] * 0.30


def test_ivfpq_recall_vs_exact_and_rerank_scoring(spark):
    """IVF-PQ returns exact cosines for whatever it returns (the
    re-rank stage reads true vectors), and with all lists probed and
    rerank covering the corpus it matches brute force exactly."""
    import numpy as np
    rng = np.random.RandomState(7)
    rows = [(int(i), [float(x) for x in rng.randn(64)])
            for i in range(1, 120)] + [(0, [1.0] * 64)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    # 5 centroids (vec_id % 29 == 1 over 0..119); nprobe=5 probes ALL
    # lists and rerank=200 exceeds the corpus, so the two-stage search
    # must return EXACTLY the brute-force top-k
    got = similarity.ivfpq_topk(emb, query_mod=60, k=3, nprobe=5,
                                centroid_mod=29, rerank=200).collect()
    bf = similarity.brute_force_topk(emb, query_mod=60, k=119).collect()
    exact = {(r["query_id"], r["vec_id"]): r["cosine"] for r in bf}
    assert got, "queries must return results"
    for r in got:
        # cosine is the EXACT score (not the ADC approximation)
        assert abs(exact[(r["query_id"], r["vec_id"])] - r["cosine"]) < 1e-12
    top3 = {(r["query_id"], r["vec_id"]) for r in bf if r["rank"] <= 3}
    assert {(r["query_id"], r["vec_id"]) for r in got} == top3


def test_repair_sql_statement_shapes(spark):
    import pyspark.sql.functions as F
    from tidb_binlog_spark.functions.checksum import repair_sql
    diff = spark.createDataFrame(
        [("1", "only_src", "'A'", "10.00"),
         ("2", "only_dst", None, None),
         ("3", "changed", "'B''s'", "20.50")],
        "k string, diff_status string, src_v1 string, src_v2 string")
    got = {r["k"]: r["repair_sql"] for r in
           repair_sql(diff, "`t`", ["k"], ["v1", "v2"]).collect()}
    assert got["1"] == "REPLACE INTO `t`(`k`, `v1`, `v2`) VALUES(1, 'A', 10.00)"
    assert got["2"] == "DELETE FROM `t` WHERE `k` = 2 LIMIT 1"
    assert got["3"] == ("REPLACE INTO `t`(`k`, `v1`, `v2`) "
                        "VALUES(3, 'B''s', 20.50)")


def test_gate_sweep_monotone_and_total(spark):
    """docs_kept/tokens_kept are non-increasing in threshold and the
    lowest threshold keeps the whole corpus."""
    from tidb_binlog_spark.functions.curation import gate_sweep
    d = docs_df(spark, [f"word{i} filler text number {i}" for i in range(60)])
    rows = sorted(gate_sweep(d).collect(), key=lambda r: r["threshold"])
    assert rows[0]["docs_kept"] == 60
    kept = [r["docs_kept"] for r in rows]
    assert kept == sorted(kept, reverse=True)
    toks = [r["tokens_kept"] for r in rows]
    assert toks == sorted(toks, reverse=True)


def test_kmv_sketch_merge_equals_direct(spark):
    """Union + re-truncate of per-part KMV sketches equals the direct
    whole-corpus sketch EXACTLY (each part's k-minimum set contains
    every global k-minimum element) — the daily-fold contract."""
    from tidb_binlog_spark.functions.scoring import kmv_merge_check
    texts = [f"mergeable sketch doc {i} token {i % 13} tail {i % 5}"
             for i in range(300)]
    d = docs_df(spark, texts)
    rows = kmv_merge_check(d, k=32, split_mod=3).collect()
    assert rows and all(r["merge_exact"] for r in rows)
    assert all(r["k_merged"] == r["k_direct"] for r in rows)


def test_semantic_chunks_split_at_topic_shift(spark):
    """A document with two disjoint vocabularies splits at the shift;
    a homogeneous document stays one chunk; chunks tile the doc."""
    from tidb_binlog_spark.functions.curation import semantic_chunks
    topic_a = " ".join(f"alpha{i % 6} beta{i % 4}" for i in range(10))
    topic_b = " ".join(f"gamma{i % 6} delta{i % 4}" for i in range(10))
    shifty = topic_a + " " + topic_b
    uniform = " ".join(f"same{i % 3} word{i % 2}" for i in range(20))
    d = docs_df(spark, [shifty, uniform])
    got = {}
    for r in semantic_chunks(d).collect():
        got.setdefault(r["doc_id"], []).append(r)
    shift_chunks = sorted(got[0], key=lambda r: r["chunk_no"])
    assert len(shift_chunks) >= 2, "topic shift must split"
    # chunks tile: starts/ends contiguous, total tokens preserved
    assert shift_chunks[0]["start_tok"] == 1
    for a, b in zip(shift_chunks, shift_chunks[1:]):
        assert b["start_tok"] == a["end_tok"] + 1
    assert sum(r["n_tokens"] for r in shift_chunks) == 40
    assert len(got[1]) == 1 and got[1][0]["n_tokens"] == 40


def test_fold_leakage_content_folding_never_leaks(spark):
    """Content-hash folding puts a duplicated doc's copies in ONE
    fold (leaked pairs 0); id folding spreads the planted 3-copy
    cluster across folds (leaked pairs > 0)."""
    import __spark_entry__ as m
    import pyspark.sql.functions as F
    # doc_ids 0,1,2 share text -> id%5 folds 0,1,2 leak 3 pairs
    texts = ["dup dup dup"] * 3 + [f"unique doc {i}" for i in range(12)]
    d = docs_df(spark, texts)
    k = 5
    h = d.select(
        "doc_id", F.md5("text").alias("content_hash"),
        F.expr(f"CAST(conv(substring(md5(text), 1, 8), 16, 10) "
               f"AS BIGINT) % {k}").alias("fold_by_content"),
        (F.col("doc_id") % k).alias("fold_by_id"))
    def leaked(col):
        per = h.groupBy("content_hash", col).agg(F.count(F.lit(1)).alias("m"))
        return (per.groupBy("content_hash")
                .agg(F.sum("m").alias("c"),
                     F.sum(F.expr("m * (m - 1) DIV 2")).alias("inp"))
                .agg(F.sum(F.expr("c * (c - 1) DIV 2 - inp")).alias("l"))
                .first()["l"])
    assert leaked("fold_by_content") == 0
    assert leaked("fold_by_id") == 3   # C(3,2) pairs split 1/1/1


def test_ivf_incremental_report_growth_and_retrain(spark):
    from pyspark.sql import functions as F
    from tidb_binlog_spark.functions.similarity import (
        ivf_incremental_report, kmeans_integer_fit, _assign_int)
    # two well-separated blobs as base; the new batch floods blob 1
    base_rows = [(i, [0, 0, 0, 0]) for i in range(10, 15)] \
              + [(i, [100, 100, 100, 100]) for i in range(20, 25)]
    new_rows = [(100 + i, [99, 101, 100, 100]) for i in range(8)]
    base = spark.createDataFrame(base_rows, "vec_id long, qvec array<long>")
    new = spark.createDataFrame(new_rows, "vec_id long, qvec array<long>")
    out = {r.cluster_id: r
           for r in ivf_incremental_report(base, new, k=2,
                                           iters=2).collect()}
    assert len(out) == 2
    flooded = [r for r in out.values() if r.new_n == 8]
    assert len(flooded) == 1 and flooded[0].retrain
    quiet = [r for r in out.values() if r.new_n == 0]
    assert len(quiet) == 1 and not quiet[0].retrain
    # frozen-codebook contract: report counts equal direct assignment
    cents = kmeans_integer_fit(base, k=2, iters=2)
    direct = (_assign_int(new, cents, "vec_id", "qvec")
              .groupBy("cluster_id").count().collect())
    assert {r.cluster_id: r["count"] for r in direct} == \
           {cid: r.new_n for cid, r in out.items() if r.new_n > 0}


def test_dsir_weights_prefers_target_like_docs(spark):
    from tidb_binlog_spark.functions.scoring import dsir_weights
    # target source speaks 'aa bb cc'; the other speaks 'xx yy zz';
    # doc 50 is an off-source doc written in target language
    rows = ([(i, "aa bb cc aa bb", "en", "src0", 0) for i in range(20)]
            + [(100 + i, "xx yy zz xx yy", "en", "srcX", 0)
               for i in range(20)]
            + [(50, "aa bb cc aa bb", "en", "srcX", 0)])
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long")
    out = dsir_weights(docs, target_source="src0", n_buckets=64,
                       top_k=100).collect()
    w = {r.doc_id: r.weight_micro for r in out}
    # the target-like off-source doc scores with the target docs,
    # far above every xx/yy/zz doc
    assert w[50] == w[0]
    assert w[50] > w[100]
    ranks = {r.doc_id: r.rank for r in out}
    assert ranks[50] <= 21


def test_quantile_sketch_small_stratum_exact_and_monotone(spark):
    """A stratum smaller than k samples everything (est == exact for
    every percentile); a big stratum's estimates are monotone across
    percentiles and bounded by the stratum's value range."""
    from tidb_binlog_spark.functions.scoring import quantile_sketch
    rows = ([(i, " ".join(["w"] * (5 + i % 40)), "en", "big",
              10) for i in range(500)]
            + [(1000 + i, " ".join(["w"] * (3 + i)), "en", "small", 10)
               for i in range(20)])
    d = spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long")
    got = {r["stratum"]: r for r in quantile_sketch(d, k=64).collect()}
    small = got["small"]
    assert small["k_used"] == small["n_docs"] == 20
    for p in (25, 50, 75, 90):
        assert small[f"p{p}_est"] == small[f"p{p}_exact"]
        assert small[f"p{p}_abs_err"] == 0
    big = got["big"]
    assert big["k_used"] == 64 and big["n_docs"] == 500
    ests = [big[f"p{p}_est"] for p in (25, 50, 75, 90)]
    exacts = [big[f"p{p}_exact"] for p in (25, 50, 75, 90)]
    assert ests == sorted(ests) and exacts == sorted(exacts)
    assert all(5 <= e <= 44 for e in ests)
    # k=64 over a 40-value uniform grid: nearest-rank stderr is a few
    # grid steps — a loose but real accuracy bound
    for e, x in zip(ests, exacts):
        assert abs(e - x) <= 6


def test_quantile_ticket_sample_merges_exactly(spark):
    """Bottom-k-by-ticket is mergeable like KMV: union + re-truncate
    of per-part samples IS the direct whole-corpus sample (every
    global bottom-k ticket survives in its part's bottom-k)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from tidb_binlog_spark.functions.scoring import quantile_ticket_sample
    d = docs_df(spark, [f"doc {i} body {i % 9}" for i in range(300)])
    k = 32
    direct = {(r["stratum"], r["doc_id"])
              for r in quantile_ticket_sample(d, k).collect()}
    parts = [quantile_ticket_sample(
                 d.filter(F.col("doc_id") % 3 == i), k)
             .select("stratum", "doc_id", "ticket")
             for i in range(3)]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    w = Window.partitionBy("stratum").orderBy("ticket", "doc_id")
    merged = {(r["stratum"], r["doc_id"])
              for r in u.withColumn("rk", F.row_number().over(w))
                        .filter(F.col("rk") <= k).collect()}
    assert merged == direct and len(direct) == k


def test_cms_overestimates_and_pins_heavy_hitter(spark):
    """CMS never underestimates (bucket sums include the token's own
    count plus non-negative collisions), ranks the planted heavy
    hitter first, and its estimate error is bounded by the colliding
    rare mass."""
    from tidb_binlog_spark.functions.scoring import cms_heavy_hitters
    texts = [f"heavy unique{i}" for i in range(200)]
    d = docs_df(spark, texts)
    rows = sorted(cms_heavy_hitters(d, depth=4, width=512, k=8).collect(),
                  key=lambda r: r["rank"])
    assert all(r["overestimate_ok"] for r in rows)
    assert rows[0]["tok"] == "heavy" and rows[0]["exact_cnt"] == 200
    # expected collisions per row ~200/512; min over 4 rows is small
    assert rows[0]["est_cnt"] - rows[0]["exact_cnt"] <= 5
    # rare candidates are exact or tiny-overestimated, never under
    for r in rows[1:]:
        assert r["exact_cnt"] == 1 and r["est_cnt"] >= 1


def test_recall_curve_monotone_and_full_probe_perfect(spark):
    """Recall is monotone in nprobe, and probing every list makes the
    IVF result identical to brute force (recall exactly 1e6 ppm)."""
    import numpy as np
    rng = np.random.RandomState(11)
    rows = [(int(i), [float(x) for x in rng.randn(64)])
            for i in range(1, 120)] + [(0, [1.0] * 64)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r["nprobe"]: r for r in
           similarity.recall_curve(emb, query_mod=60, k=3,
                                   nprobes=(1, 2, 5),
                                   centroid_mod=29).collect()}
    assert set(got) == {1, 2, 5}
    rec = [got[p]["recall_ppm"] for p in (1, 2, 5)]
    assert rec == sorted(rec)
    assert got[5]["recall_ppm"] == 1_000_000
    assert all(r["n_queries"] == 2 and r["k"] == 3
               for r in got.values())


def test_novelty_curve_fresh_vs_recycled(spark):
    """A source of all-unique docs stays at full novelty in every
    decile; a source that repeats one document collapses to zero
    novelty after the first appearance."""
    from tidb_binlog_spark.functions.scoring import novelty_curve
    fresh = [f"unique{i} words{i} here{i} now{i} more{i}"
             for i in range(20)]
    recycled = ["same words every single time of day"] * 20
    rows = ([(i, t, "en", "fresh", len(t))
             for i, t in enumerate(fresh)]
            + [(100 + i, t, "en", "recycled", len(t))
               for i, t in enumerate(recycled)])
    d = spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long")
    got = {(r["stratum"], r["decile"]): r
           for r in novelty_curve(d).collect()}
    for dec in range(1, 11):
        assert got[("fresh", dec)]["novelty_ppm"] == 1_000_000
    assert got[("recycled", 1)]["n_new"] > 0        # first doc only
    for dec in range(2, 11):
        assert got[("recycled", dec)]["novelty_ppm"] == 0


def test_mm_frame_dedup_counts_global_first_occurrences(spark):
    """Identical payloads: only the first doc's frames are novel;
    a unique payload is fully novel; within-doc duplicate frames
    count once."""
    import __spark_entry__  # noqa: F401  (pattern parity)
    from pyspark.sql import functions as F
    from tidb_binlog_spark.functions import multimodal as mmod
    # payloads > 1000 bytes so each doc yields multiple frames;
    # docs 0 and 1 are byte-identical
    big = ("abcdefgh" * 300)
    uniq = ("zyxwvuts" * 300)
    d = spark.createDataFrame(
        [(0, big, "en", "s", len(big)), (1, big, "en", "s", len(big)),
         (2, uniq, "en", "s", len(uniq))],
        "doc_id long, text string, lang string, source string, n_chars long")
    fr = mmod.frame_sample_stub(d)
    first = (fr.groupBy("frame_hex")
             .agg(F.min(F.struct("doc_id", "frame_offset")).alias("f")))
    j = fr.join(first, "frame_hex")
    novel = ((F.col("doc_id") == F.col("f.doc_id"))
             & (F.col("frame_offset") == F.col("f.frame_offset")))
    got = {r["doc_id"]: (r["n"], r["nv"]) for r in
           j.groupBy("doc_id").agg(
               F.count(F.lit(1)).alias("n"),
               F.count(F.when(novel, 1)).alias("nv")).collect()}
    assert got[0][0] == got[1][0] == 3          # 2400 bytes -> 3 frames
    # the repeated 8-byte pattern makes all frames of a payload equal:
    # doc 0 introduces ONE novel frame, docs 1 and 2's copies don't
    assert got[0][1] == 1 and got[1][1] == 0
    assert got[2][1] == 1                        # unique payload's own


def test_tokenizer_fertility_counts(spark):
    """Pure-letter words keep fertility at exactly 1e6 ppm; mixed
    alnum words fragment and push it above."""
    import __spark_entry__ as m
    from pyspark.sql import functions as F
    from tidb_binlog_spark.functions.text import token_count
    texts_plain = ["simple words only here"] * 3        # 4 ws = 4 bpe
    texts_frag = ["ab1cd ef2gh"] * 3                    # 2 ws = 6 bpe
    d = spark.createDataFrame(
        [(i, t, "en", "plain", len(t))
         for i, t in enumerate(texts_plain)]
        + [(10 + i, t, "en", "frag", len(t))
           for i, t in enumerate(texts_frag)],
        "doc_id long, text string, lang string, source string, n_chars long")
    tc = token_count(d).join(d.select("doc_id", "source"), "doc_id")
    got = {r["source"]: r for r in
           (tc.groupBy("source")
            .agg(F.sum("n_ws_tokens").alias("w"),
                 F.sum("n_bpe_tokens").alias("b"))).collect()}
    assert got["plain"]["b"] * 1_000_000 // got["plain"]["w"] == 1_000_000
    assert got["frag"]["b"] * 1_000_000 // got["frag"]["w"] == 3_000_000


def test_quantile_merge_proof_and_idempotence_on_fixture(spark):
    """Both in-query proofs hold on real data: per-part quantile
    samples merge exactly, and a second dedup pass is the identity."""
    import __spark_entry__ as m
    sf = "/root/testdata/sf0.001"
    merged = m.queries()["corpus_quantile_merge"](spark, sf).collect()
    assert merged and all(r["merge_exact"] for r in merged)
    idem = m.queries()["dedup_idempotence"](spark, sf).collect()
    assert idem and all(r["idempotent"] for r in idem)


def test_pca_moments_np_matches_reference(spark):
    """The r13 numpy-Gram moment engine must produce the exact
    integer (n, s, G) the explode+sum route produced: pin it against
    an independent pure-Python reference over the same quantized
    vectors (negatives and >1 magnitudes included, multiple
    partitions so the cross-partition fold is exercised)."""
    import math
    import random

    from tidb_binlog_spark.functions import similarity as sim
    rnd = random.Random(13)
    dims, scale = 6, 1000
    rows = [(i, [rnd.uniform(-2.5, 2.5) for _ in range(dims)])
            for i in range(257)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>").repartition(7)
    n, s, G = sim.pca_moments(df, dims, "embedding", scale)
    q = [[math.floor(x * scale) for x in emb] for _, emb in rows]
    assert n == len(rows)
    for i in range(dims):
        assert s[i] == sum(r[i] for r in q), i
        for j in range(dims):
            assert G[i][j] == sum(r[i] * r[j] for r in q), (i, j)


def test_pca_moments_np_chunk_guard(spark):
    """Large-magnitude quantized values must route through the
    int64-safe chunking (max|q| ~ 2^21 forces chunks of ~2^20 rows —
    exercised here by values whose per-batch Gram would still fit,
    proving the chunk split changes nothing)."""
    from tidb_binlog_spark.functions import similarity as sim
    dims = 3
    rows = [(i, [float(2_000_000 + i), -2_000_000.0, 1.5])
            for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    n, s, G = sim.pca_moments(df, dims, "embedding", 1)
    import math
    q = [[math.floor(x) for x in emb] for _, emb in rows]
    assert n == 50
    for i in range(dims):
        assert s[i] == sum(r[i] for r in q)
        for j in range(dims):
            assert G[i][j] == sum(r[i] * r[j] for r in q)


def test_kmeans_integer_fit_local_loop(spark):
    """The r13 driver-loop centroid fit must reproduce the lineage
    form bit-for-bit: pin it against an in-test reference that runs
    the identical recursion (seed = k lowest-id vectors, min_by
    assignment with ties to the lowest cluster id, floor(sum/count)
    means, emptied clusters keep their centroid)."""
    import math
    import random

    from tidb_binlog_spark.functions import similarity as sim
    rnd = random.Random(99)
    dims, k, iters = 4, 5, 3
    rows = [(i, [rnd.randrange(-50, 50) for _ in range(dims)])
            for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, qvec array<bigint>")
    got = {r["cluster_id"]: list(r["cvec"])
           for r in sim.kmeans_integer_fit(df, k=k, iters=iters).collect()}

    cents = {c: list(rows[c][1]) for c in range(k)}   # k lowest ids
    for _ in range(iters):
        sums = {c: [0] * dims for c in range(k)}
        counts = {c: 0 for c in range(k)}
        for _, v in rows:
            best = min(range(k), key=lambda c: (
                sum((a - b) * (a - b) for a, b in zip(v, cents[c])), c))
            counts[best] += 1
            for d in range(dims):
                sums[best][d] += v[d]
        for c in range(k):
            if counts[c]:
                cents[c] = [int(math.floor(sums[c][d] / counts[c]))
                            for d in range(dims)]
    assert got == cents
