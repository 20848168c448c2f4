"""Deduplication operators for large-scale training-data pipelines.

Five families, all expressed as shuffle-conscious DataFrame pipelines over
the ``documents`` / ``embeddings`` tables:

- exact:    hash-groupBy on md5(text) — one shuffle, map-side combine.
- n-gram Jaccard: explode word shingles → inverted-index self-join on the
  shingle (only docs sharing a shingle ever meet — the join IS the
  candidate generation; no O(n²) cross product) → per-pair intersection
  counts → Jaccard.
- MinHash+LSH: one md5 per shingle → K permutation hashes via integer
  arithmetic (a_k·h + b_k mod P — NOT K md5 passes), banded into B bands;
  docs sharing a band bucket become candidates; verified with true
  Jaccard.
- SimHash: 16-bit signature from one md5 per word; near-dups = pairs
  within Hamming distance ≤ 2 (blocked by byte halves to avoid n²).
- embedding cosine: see operators/similarity.py for the kernel.

Performance note (measured, sf0.1): Catalyst does NOT common-subexpression
-eliminate inside higher-order-function lambdas — a lambda body that
references the `words` *expression* re-splits the string once per array
element (O(n²) per doc). Every pipeline below therefore materializes
`words` / `shingles` / per-shingle hashes as real columns first, then
each lambda only touches column references. This took the shingle explode
from 6.1s to sub-second and minhash signatures from 80s+ to seconds.

At 100 TB the shape that matters: every candidate-generation step is a
shuffle on a *content-derived key* (shingle, band bucket) whose fan-out is
bounded; nothing collects to the driver; verification joins happen only on
candidates; per-doc sizes ride along with the exploded rows so no
broadcast of a per-doc side table is needed. Hot keys (ultra-common
shingles) are the skew risk — the shingle join drops shingles occurring
in more than ``max_df`` docs, the standard stop-shingle guard.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from iceberg_rust_archive_spark.session import materialize_local

N_HASHES = 12
BAND_SIZE = 3  # → 4 bands
MERSENNE_P = (1 << 61) - 1
# deterministic permutation constants (identical literals in the oracle
# SQL below): a_k odd, < 2^28 so a_k * h < 2^60 — no bigint overflow
# under ANSI mode in either engine
_A = [int(hashlib.md5(f"a{k}".encode()).hexdigest()[:7], 16) | 1
      for k in range(N_HASHES)]
_B = [int(hashlib.md5(f"b{k}".encode()).hexdigest()[:8], 16)
      for k in range(N_HASHES)]


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iceberg_rust_archive_spark.session import read_parallel
    return read_parallel(spark, os.path.join(sf_dir, "documents.parquet"))


def words_col(col: str = "text"):
    return F.filter(F.split(F.col(col), r"\s+"), lambda w: w != "")


def shingles_from_words(words: str = "ws", n: int = 3):
    """Distinct word n-gram shingles from a *materialized* words column
    (lambda touches only the column reference — see module docstring).

    Docs with fewer than n words get an EMPTY array: Spark's
    sequence(1, 0) counts DOWN ([1, 0]) instead of being empty like
    DuckDB's generate_series, so the short-doc case needs the explicit
    branch (found by hypothesis in tests/test_properties.py)."""
    return F.when(
        F.size(F.col(words)) >= n,
        F.array_distinct(F.transform(
            F.sequence(F.lit(1), F.size(F.col(words)) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(F.col(words), i, n))))
    ).otherwise(F.array().cast("array<string>"))


def shingled(d: DataFrame, n: int = 3) -> DataFrame:
    """doc_id, shs (distinct n-gram array). Deliberately NO n_sh column:
    a second reference to `shs` makes CollapseProject duplicate the whole
    shingle expression (and re-inline `ws` into its lambda, turning the
    per-row O(n) split into per-element O(n²))."""
    return (d.withColumn("ws", words_col())
            .select("doc_id", shingles_from_words("ws", n).alias("shs")))


def exploded_shingles(d: DataFrame, n: int = 3) -> DataFrame:
    """doc_id, sh — one row per (doc, distinct shingle)."""
    return shingled(d, n).select("doc_id", F.explode("shs").alias("sh"))


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup summary per source: total docs, distinct texts, dupes
    removed. Keep-policy = min(doc_id) per md5(text)."""
    d = _docs(spark, sf_dir)
    uniq = (d.withColumn("h", F.md5("text"))
            .groupBy("source", "h").agg(F.min("doc_id").alias("keep_id"),
                                        F.count(F.lit(1)).alias("n")))
    return (uniq.groupBy("source")
            .agg(F.sum("n").alias("n_docs"),
                 F.count(F.lit(1)).alias("n_unique"),
                 (F.sum("n") - F.count(F.lit(1))).alias("n_dupes"))
            .orderBy("source"))


DECONTAM_BENCH_MOD = 31  # synthetic held-out slice: doc_id % 31 == 0


def decontaminate(spark: SparkSession, sf_dir: str, n: int = 3) -> DataFrame:
    """Benchmark decontamination — the training-data gate that flags
    docs sharing any word n-gram with a held-out evaluation set (the
    GPT-3-style n-gram overlap rule). Output per source: training doc
    count, contaminated count, clean count.

    The held-out set here is a deterministic slice of ``documents``
    (``doc_id % 31 == 0``) standing in for a real benchmark table the
    caller supplies.

    Scale shape: benchmark shingles ⋈ training shingles is an inverted
    n-gram index equi-join — only docs sharing a shingle ever meet, the
    shuffle key is the content-derived shingle. In production the
    benchmark side is a FIXED eval suite (thousands of docs, bounded by
    construction) so AQE broadcasts it and the training corpus never
    reshuffles; contaminated ids reduce to a distinct + one left join
    back to the training rows."""
    d = _docs(spark, sf_dir)
    is_bench = F.col("doc_id") % DECONTAM_BENCH_MOD == 0
    bench = d.filter(is_bench).select("doc_id", "text")
    train = d.filter(~is_bench)
    bsh = exploded_shingles(bench, n).select("sh").distinct()
    hits = (exploded_shingles(train.select("doc_id", "text"), n)
            .join(bsh, "sh")
            .select("doc_id").distinct()
            .withColumn("hit", F.lit(1)))
    return (train.join(hits, "doc_id", "left")
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(F.coalesce("hit", F.lit(0)))
                  .alias("n_contaminated"))
            .withColumn("n_clean",
                        F.col("n_docs") - F.col("n_contaminated"))
            .orderBy("source"))


SUBSTR_WIN = 40  # window length L: a span must be ≥ L chars to be seen


def substring_dup_spans(spark: SparkSession, sf_dir: str,
                        win: int = SUBSTR_WIN) -> DataFrame:
    """Exact substring-span dedup (the ExactSubstr operator of Lee et
    al., "Deduplicating Training Data Makes Language Models Better",
    2021; coverage accounting as in AI2's BFF): fingerprint the
    length-``win`` character window starting at every WORD start, mark
    a window duplicated when its content appears in more than one
    document, merge each document's duplicated windows into maximal
    character spans, and report per-source how many docs carry a
    cross-document duplicated span and how many characters those spans
    cover.

    Unlike shingle/MinHash dedup (whole-document similarity) this finds
    verbatim PARTIAL overlap — boilerplate headers, quoted paragraphs,
    licence blocks — the dominant duplication mode in web corpora.

    Word starts are CONTENT-DEFINED anchors: two documents sharing a
    span sample identical window contents regardless of where the span
    sits in each document (a fixed-stride grid would only match when
    the offsets happen to align mod the stride). Guarantee: any shared
    span that contains a word start with ≥ ``win`` characters of the
    span remaining after it is detected.

    Scale shape (100 TB): one words-explode + per-doc cumulative-sum
    window computes the anchor offsets (shuffle on doc_id, rows =
    corpus words — the same order as the shingle pipelines); the
    duplicate test is ONE groupBy on the content-derived window key
    (map-side combine collapses repeats); the join back is equi on that
    key against a one-row-per-key build side (no fan-out); the interval
    merge is a per-doc window function over HIT rows only — rows scale
    with duplicated content, not corpus size.

    Output: one row per source — docs considered (≥ win chars), docs
    clean, docs flagged, covered span chars, flagged docs' total chars.
    All integers, so the DuckDB oracle hash-matches exactly. The rollup
    runs eagerly and comes back as a local relation, so the window rows
    cached at the fork are released before this returns.
    """
    wins = _substring_windows(spark, sf_dir, win).cache()
    try:
        return materialize_local(spark, _substring_rollup(wins, win))
    finally:
        wins.unpersist()


def _substring_windows(spark: SparkSession, sf_dir: str,
                      win: int = SUBSTR_WIN) -> DataFrame:
    """One row per (document, word-start window) for
    :func:`substring_dup_spans`: doc id, source, doc length, window
    offset and the 60-bit md5 key of the window's content."""
    d = _docs(spark, sf_dir)
    # single-space split on BOTH engines (not \s+): empty tokens keep
    # the running offset exact (each consumed separator is one char).
    # Anchor offsets are computed ARRAY-side (one prefix-sum pass per
    # doc, no shuffle) — a posexplode + per-doc window would pay a full
    # sort shuffle of every corpus word just to number them.
    base = (d.withColumn("dlen", F.length("text"))
            .filter(F.col("dlen") >= win)
            .withColumn("ws", F.split("text", " ", -1))
            .withColumn(
                "anchors",
                F.aggregate(
                        "ws",
                        F.struct(F.lit(0).cast("long").alias("off"),
                                 F.array().cast("array<long>")
                                 .alias("ps")),
                        lambda acc, w: F.struct(
                            (acc["off"] + F.length(w) + 1).alias("off"),
                            F.when(
                                (F.length(w) > 0)
                                & (acc["off"]
                                   <= F.col("dlen") - win),
                                F.array_append(acc["ps"], acc["off"]))
                            .otherwise(acc["ps"]).alias("ps")),
                        lambda acc: acc["ps"])))
    return (base.select(
                "doc_id", "source", "dlen", "text",
                F.explode("anchors").alias("pos"))
            .select("doc_id", "source", "dlen", "pos",
                    F.conv(F.substring(F.md5(
                        F.expr(f"substring(text, pos + 1, {win})")),
                        1, 15), 16, 10).cast("long").alias("h")))


def _substring_rollup(wins: DataFrame, win: int = SUBSTR_WIN) -> DataFrame:
    """The per-source rollup of :func:`substring_dup_spans` over its
    window rows. One corpus scan total when ``wins`` is cached at the
    fork (ForkNode pattern, A25): BOTH the duplicate test and the
    per-doc rollup consume it — uncached, the scan + HOF prefix-sum
    would run twice."""
    # windows whose content crosses documents; one output row per key,
    # so the join back cannot fan out. Keys are 60-bit md5 prefixes —
    # the shuffle carries 8 bytes per window, not the 40-char content;
    # the oracle hashes identically, so even a collision (≈2^-60 per
    # pair) stays bit-identical across engines.
    dupw = (wins.groupBy("h")
            .agg(F.count_distinct("doc_id").alias("nd"))
            .filter(F.col("nd") > 1)
            .select("h", F.lit(1).alias("__dup")))
    # interval merge happens ARRAY-side per doc (positions are sorted;
    # every interval is [p, p+win) with p nondecreasing, so the running
    # exclusive end E satisfies E <= p+win and each hit contributes
    # win if p >= E else p+win-E) — no window functions, one groupBy
    cover = F.aggregate(
        F.sort_array(F.col("hit_ps")),
        F.struct(F.lit(-1).cast("long").alias("e"),
                 F.lit(0).cast("long").alias("c")),
        lambda acc, p: F.struct(
            (p + win).alias("e"),
            (acc["c"] + F.when(p >= acc["e"], F.lit(win))
             .otherwise(p + win - acc["e"])).alias("c")),
        lambda acc: acc["c"])
    # dup-window count grows with the corpus — NOT broadcastable by
    # construction; AQE picks broadcast while it measures small
    per_doc = (wins.join(dupw, "h", "left")
               .groupBy("doc_id")
               .agg(F.first("source").alias("source"),
                    F.first("dlen").alias("dlen"),
                    F.collect_list(F.when(F.col("__dup") == 1,
                                          F.col("pos"))).alias("hit_ps"))
               .withColumn("covered", cover))
    return (per_doc.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum((F.col("covered") == 0).cast("long"))
                  .alias("n_clean"),
                 F.sum((F.col("covered") > 0).cast("long"))
                  .alias("n_flagged"),
                 F.sum("covered").alias("covered_chars"),
                 F.sum(F.when(F.col("covered") > 0,
                              F.col("dlen")).otherwise(0))
                  .alias("flagged_chars"))
            .orderBy("source"))


def _shingle_pairs(d: DataFrame, n: int = 3, max_df: int = 1000,
                   shs: DataFrame | None = None) -> DataFrame:
    """Candidate pairs from the inverted shingle index with df cap.
    Shared-shingle counts come from the self equi-join on the shingle;
    Jaccard denominators join in afterwards from a narrow per-doc sizes
    table (AQE broadcasts it when small).

    ``shs``: optional pre-computed ``shingled()`` frame — a caller that
    also feeds the MinHash branch caches it once and both branches skip
    their own text-split + shingle pass (r16 optimization, guide §2.4:
    one corpus pass shared instead of three)."""
    # join key = xxhash64(shingle): a fixed-width long shuffles and
    # compares far cheaper than the shingle string; collision odds at
    # 64 bits are ~(distinct_shingles)²/2^64 — immaterial
    # cache = the reference's ForkNode (A25, fork_node.rs:34-160): the
    # inverted index feeds FOUR consumers (df_counts, both join sides,
    # and the per-doc sizes rollup); persisting it executes the shingle
    # pipeline once
    if shs is None:
        shs = shingled(d, n)
    sh = (shs.select("doc_id", F.explode("shs").alias("sh"))
          .select("doc_id", F.xxhash64("sh").alias("sh"))).cache()
    df_counts = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    # broadcast the STOP list (df > cap), not the keep list: stop
    # shingles are few by Zipf regardless of corpus size, while the
    # keep list is ~every distinct shingle — broadcasting it would be
    # impossible at 100 TB. Anti-join semantics are identical.
    stop = df_counts.filter(F.col("df") > max_df).select("sh")
    idx = sh.join(F.broadcast(stop), "sh", "left_anti")
    a = idx.alias("a")
    b = idx.alias("b")
    pairs = (a.join(b, (F.col("a.sh") == F.col("b.sh"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")))
             .groupBy(F.col("a.doc_id").alias("doc_a"),
                      F.col("b.doc_id").alias("doc_b"))
             .agg(F.count(F.lit(1)).alias("shared")))
    # Jaccard denominators from the CACHED index, not a second corpus
    # pass: shingles_from_words array_distincts per doc, so the index
    # holds exactly size(shs) rows per doc — count them. Docs with zero
    # shingles drop out of `sizes`, which is vacuous here (the inner
    # candidate join never emits a zero-shingle doc). This removes a
    # full scan + split + shingle re-evaluation (r16, measured below).
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    return (pairs
            .join(sizes.select(F.col("doc_id").alias("doc_a"),
                               F.col("n_sh").alias("na")), "doc_a")
            .join(sizes.select(F.col("doc_id").alias("doc_b"),
                               F.col("n_sh").alias("nb")), "doc_b"))


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str,
                        threshold: float = 0.6, n: int = 3,
                        shs: DataFrame | None = None) -> DataFrame:
    """Near-dup pairs by Jaccard over distinct 3-gram shingles."""
    d = _docs(spark, sf_dir) if shs is None else None
    jac = _shingle_pairs(d, n, shs=shs).withColumn("jaccard", F.round(
        F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared")), 4))
    return (jac.filter(F.col("jaccard") >= threshold)
            .select("doc_a", "doc_b", "jaccard")
            .orderBy("doc_a", "doc_b"))


def minhash_signature(hcol: str = "h"):
    """Array of K permutation min-hashes over a materialized base-hash
    column: sig[k] = min over shingles of (a_k·h + b_k) mod (2^61-1).
    The column MUST sit behind an optimizer barrier (exchange) — 12
    references to an inline expression would recompute it 12×."""
    mins = [F.array_min(F.transform(
        F.col(hcol), lambda x: (F.lit(a) * x + F.lit(b)) % MERSENNE_P))
        for a, b in zip(_A, _B)]
    return F.array(*mins)


def _signed(spark: SparkSession, sf_dir: str,
            shs: DataFrame | None = None) -> DataFrame:
    """doc_id, shs, sig — one md5 per shingle, then integer perms.

    ``shs``: optional pre-computed ``shingled()`` frame shared with the
    Jaccard branch (see ``_shingle_pairs``).

    The repartition between the hash projection and the 12-way min
    projection is an optimizer barrier: CollapseProject cannot cross an
    Exchange, so `h` (one md5 pass) stays materialized instead of being
    re-inlined into each of the 12 array_min expressions. The shuffle
    moves only (doc_id, shs, h) — proportional to input size — and AQE
    coalesces it.

    No size(shs) > 0 filter: predicate pushdown would inline the whole
    shingle expression into a pre-exchange filter (see session.py on
    InferFiltersFromGenerate). Empty-shingle docs produce null minhashes
    whose candidate pairs die at Jaccard verification (0/0 → null)."""
    d = shingled(_docs(spark, sf_dir)) if shs is None else shs
    d = d.withColumn("h", F.transform(
        "shs", lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10)
        .cast("long")))
    d = d.repartition("doc_id")
    # ForkNode analog (A25): sig feeds the bands self-join AND both
    # verification joins — one execution, three consumers
    return d.select("doc_id", "shs", minhash_signature().alias("sig")).cache()


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str,
                      threshold: float = 0.5,
                      shs: DataFrame | None = None) -> DataFrame:
    """MinHash signatures → banded LSH buckets → candidate pairs → verify
    with true Jaccard ≥ threshold."""
    sig = _signed(spark, sf_dir, shs=shs)
    bands = sig.select(
        "doc_id",
        F.explode(F.transform(
            F.sequence(F.lit(0), F.lit(N_HASHES // BAND_SIZE - 1)),
            lambda b: F.struct(
                b.alias("band"),
                F.concat_ws("|", F.transform(
                    F.slice(F.col("sig"), b * BAND_SIZE + 1, BAND_SIZE),
                    lambda x: x.cast("string"))).alias("key")))).alias("bk"))
    bands = bands.select("doc_id", F.col("bk.band").alias("band"),
                         F.col("bk.key").alias("key"))
    a, b = bands.alias("a"), bands.alias("b")
    cand = (a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.key") == F.col("b.key"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b")).distinct())
    sh = sig.select("doc_id", "shs")
    jac = (cand
           .join(sh.select(F.col("doc_id").alias("doc_a"),
                           F.col("shs").alias("sha")), "doc_a")
           .join(sh.select(F.col("doc_id").alias("doc_b"),
                           F.col("shs").alias("shb")), "doc_b")
           .withColumn("jaccard", F.round(
               F.size(F.array_intersect("sha", "shb"))
               / F.size(F.array_union("sha", "shb")), 4)))
    return (jac.filter(F.col("jaccard") >= threshold)
            .select("doc_a", "doc_b", "jaccard").orderBy("doc_a", "doc_b"))


SIMHASH_BITS = 60          # 15 hex chars of md5 per word → fits a BIGINT
SIMHASH_BLOCKS = 4         # pigeonhole: ≤ BLOCKS-1 flips share ≥1 block
BLOCK_BITS = SIMHASH_BITS // SIMHASH_BLOCKS        # 15 → 32k keys/block
SIMHASH_MAX_HAMMING = SIMHASH_BLOCKS - 1


def _masks():
    # built lazily: Column construction needs an active SparkContext
    return F.array(*[F.lit(1 << b) for b in range(SIMHASH_BITS)])


def simhash_col(col: str = "text"):
    """60-bit SimHash as ONE nested expression evaluated once per row:
    words → per-word 60-bit md5 value → per-bit ±1 votes accumulated in
    an array (single aggregate pass; zip_with merges the 60 counters) →
    majority bits folded into the signature. Single-reference chaining
    keeps CollapseProject from duplicating any stage. 60 bits (vs the
    earlier 16) keeps the signature space far above any real corpus
    size — at 16 bits a billion-doc corpus collapses onto 65k values
    and every block key goes quadratic."""
    words = words_col(col)
    hs = F.transform(
        words,
        lambda w: F.conv(F.substring(F.md5(w), 1, 15), 16, 10).cast("long"))
    votes = F.aggregate(
        hs,
        F.array_repeat(F.lit(0), SIMHASH_BITS),
        lambda acc, x: F.zip_with(
            acc, _masks(),
            lambda a, m: a + F.when(x.bitwiseAND(m) != 0, 1).otherwise(-1)))
    return F.aggregate(
        F.zip_with(votes, _masks(),
                   lambda v, m: F.when(v > 0, m).otherwise(0)),
        F.lit(0).cast("long"), lambda acc, x: acc + x)


def dedup_simhash(spark: SparkSession, sf_dir: str,
                  max_hamming: int = SIMHASH_MAX_HAMMING) -> DataFrame:
    """SimHash near-dup pairs with Hamming ≤ 3, blocked on FOUR 15-bit
    blocks: by pigeonhole, ≤3 flips leave at least one of four blocks
    untouched, so joining on (b0) ∪ (b1) ∪ (b2) ∪ (b3) finds every such
    pair without the n² cross join. Block keys have 2^15 = 32k distinct
    values each — per-key candidate work is O(Σ bucket²) over a key
    space that no longer saturates at corpus scale. (Fewer blocks than
    hamming+1 are NOT enough — one flip per block defeats them; caught
    by tests/test_pipeline_ops.py::test_simhash_blocking_finds_all_pairs.)"""
    d = _docs(spark, sf_dir).select(
        "doc_id", simhash_col().alias("sig"))
    for i in range(SIMHASH_BLOCKS):
        d = d.withColumn(
            f"b{i}", F.shiftright("sig", i * BLOCK_BITS)
                      .bitwiseAND(F.lit((1 << BLOCK_BITS) - 1)).cast("int"))
    d = d.cache()
    pairs = None
    for i in range(SIMHASH_BLOCKS):
        a, b = d.alias("a"), d.alias("b")
        p = (a.join(b, (F.col(f"a.b{i}") == F.col(f"b.b{i}"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")))
             .select(F.col("a.doc_id").alias("doc_a"),
                     F.col("b.doc_id").alias("doc_b"),
                     F.col("a.sig").alias("sa"), F.col("b.sig").alias("sb")))
        pairs = p if pairs is None else pairs.unionByName(p)
    pairs = pairs.distinct().withColumn(
        "hamming", F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))))
    return (pairs.filter(F.col("hamming") <= max_hamming)
            .select("doc_a", "doc_b", "hamming").orderBy("doc_a", "doc_b"))


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str,
                           threshold: float = 0.25) -> DataFrame:
    """Fifth dedup family: near-duplicates by embedding cosine. The
    kernel (sign-LSH bucketed candidate pairs + cosine verify) lives in
    operators/similarity.py; this entry reports them joined to the
    documents table as (doc_a, doc_b, cosine) dedup pairs."""
    from iceberg_rust_archive_spark.operators.similarity import ann_lsh_pairs
    pairs = ann_lsh_pairs(spark, sf_dir, threshold)
    docs = _docs(spark, sf_dir).select("doc_id")
    return (pairs
            .join(docs.withColumnRenamed("doc_id", "vec_a"), "vec_a")
            .join(docs.withColumnRenamed("doc_id", "vec_b"), "vec_b")
            .select(F.col("vec_a").alias("doc_a"),
                    F.col("vec_b").alias("doc_b"), "cosine")
            .orderBy("doc_a", "doc_b"))


# ---------------------------------------------------------------------------
# DuckDB oracle twins (driver correctness gate). Same algorithm re-expressed
# in DuckDB SQL: md5 hex → bigint base hashes, the same permutation
# constants, and the same majority votes are bit-identical across engines.
# ---------------------------------------------------------------------------

_WORDS = "list_filter(string_split_regex(text, '\\s+'), w -> w != '')"
_SHINGLES_W = (
    "list_distinct(list_transform("
    " generate_series(1, greatest(0, len(ws) - 2)),"
    " i -> array_to_string(ws[i:i+2], ' ')))"
)

_PERMS = ", ".join(
    f"list_min(list_transform(h, x -> (({a}::BIGINT * x + {b}) "
    f"% {MERSENNE_P})))"
    for a, b in zip(_A, _B))

_SIMHASH_SIG = " + ".join(
    "(CASE WHEN len(list_filter(hs, x -> (x & {m}) <> 0)) * 2 "
    "> len(hs) THEN {m} ELSE 0 END)".format(m=1 << b)
    for b in range(SIMHASH_BITS))

_SIMHASH_KEYS = ", ".join(
    f"(sig >> {i * BLOCK_BITS}) & {(1 << BLOCK_BITS) - 1} AS b{i}"
    for i in range(SIMHASH_BLOCKS))

_SIMHASH_CAND = "\n          UNION\n".join(
    f"          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,"
    f" a.sig AS sa, b.sig AS sb"
    f" FROM keyed a JOIN keyed b"
    f" ON a.b{i} = b.b{i} AND a.doc_id < b.doc_id"
    for i in range(SIMHASH_BLOCKS))

ORACLE_SQL = {
    "dedup_exact": """
        SELECT source, count(*) AS n_docs,
               count(DISTINCT md5(text)) AS n_unique,
               count(*) - count(DISTINCT md5(text)) AS n_dupes
        FROM documents GROUP BY source
    """,
    "dedup_ngram_jaccard": f"""
        WITH shingle_sets AS (
          SELECT doc_id, {_SHINGLES_W} AS shs
          FROM (SELECT doc_id, {_WORDS} AS ws FROM documents)
        ),
        sh AS (
          SELECT doc_id, len(shs) AS n_sh, unnest(shs) AS sh
          FROM shingle_sets
        ),
        filtered AS (
          SELECT s.doc_id, s.n_sh, s.sh FROM sh s
          JOIN (SELECT sh FROM sh GROUP BY sh HAVING count(*) <= 1000) ok
            USING (sh)
        ),
        pairs AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared,
                 any_value(a.n_sh) AS na, any_value(b.n_sh) AS nb
          FROM filtered a JOIN filtered b
            ON a.sh = b.sh AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        )
        SELECT doc_a, doc_b,
               round(shared / (na + nb - shared), 4) AS jaccard
        FROM pairs
        WHERE round(shared / (na + nb - shared), 4) >= 0.6
    """,
    "dedup_minhash_lsh": f"""
        WITH shingle_sets AS (
          SELECT doc_id, shs,
                 list_transform(shs,
                   s -> ('0x' || md5(s)[1:8])::BIGINT) AS h
          FROM (
            SELECT doc_id, {_SHINGLES_W} AS shs
            FROM (SELECT doc_id, {_WORDS} AS ws FROM documents)
          ) WHERE len(shs) > 0
        ),
        sig AS (
          SELECT doc_id, shs, [{_PERMS}] AS sig FROM shingle_sets
        ),
        bands AS (
          SELECT doc_id,
                 unnest(list_transform(
                   generate_series(0, {N_HASHES // BAND_SIZE - 1}),
                   b -> array_to_string(
                          sig[b * {BAND_SIZE} + 1 : b * {BAND_SIZE} + {BAND_SIZE}],
                          '|'))) AS key,
                 unnest(generate_series(0, {N_HASHES // BAND_SIZE - 1})) AS band
          FROM sig
        ),
        cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b,
               round(len(list_intersect(sa.shs, sb.shs))
                     / len(list_distinct(list_concat(sa.shs, sb.shs))),
                     4) AS jaccard
        FROM cand
        JOIN sig sa ON sa.doc_id = doc_a
        JOIN sig sb ON sb.doc_id = doc_b
        WHERE round(len(list_intersect(sa.shs, sb.shs))
                    / len(list_distinct(list_concat(sa.shs, sb.shs))), 4)
              >= 0.5
    """,
    "dedup_simhash": f"""
        WITH sigs AS (
          SELECT doc_id, ({_SIMHASH_SIG})::BIGINT AS sig
          FROM (
            SELECT doc_id,
                   list_transform({_WORDS},
                     w -> ('0x' || md5(w)[1:15])::BIGINT) AS hs
            FROM documents
          )
        ),
        keyed AS (SELECT doc_id, sig, {_SIMHASH_KEYS} FROM sigs),
        pairs AS (
{_SIMHASH_CAND}
        )
        SELECT doc_a, doc_b, bit_count(xor(sa, sb)) AS hamming
        FROM pairs WHERE bit_count(xor(sa, sb)) <= {SIMHASH_MAX_HAMMING}
    """,
}


def _embedding_oracle() -> str:
    from iceberg_rust_archive_spark.operators.similarity import (
        ORACLE_SQL as SIM_ORACLE,
    )
    return f"""
        WITH pairs AS ({SIM_ORACLE["ann_lsh_pairs"]})
        SELECT p.vec_a AS doc_a, p.vec_b AS doc_b, p.cosine
        FROM pairs p
        JOIN documents da ON da.doc_id = p.vec_a
        JOIN documents db ON db.doc_id = p.vec_b
        ORDER BY doc_a, doc_b
    """


ORACLE_SQL["dedup_embedding_cosine"] = _embedding_oracle()

ORACLE_SQL["substring_dup_spans"] = f"""
    WITH toks AS (
      SELECT doc_id, source, length(text) AS dlen, text,
             string_split(text, ' ') AS ws,
             unnest(range(1, len(string_split(text, ' ')) + 1)) AS i
      FROM documents WHERE length(text) >= {SUBSTR_WIN}
    ),
    offs AS (
      SELECT doc_id, source, dlen, text, i, ws[i] AS wd,
             coalesce(sum(length(ws[i]) + 1) OVER (
               PARTITION BY doc_id ORDER BY i
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS pos
      FROM toks
    ),
    w2 AS (SELECT doc_id, source, dlen, CAST(pos AS BIGINT) AS pos,
                  ('0x' || md5(substr(text, CAST(pos AS BIGINT) + 1,
                         CAST({SUBSTR_WIN} AS BIGINT)))[1:15])::BIGINT
                    AS h
           FROM offs
           WHERE length(wd) > 0 AND pos <= dlen - {SUBSTR_WIN}),
    dupw AS (SELECT h FROM w2 GROUP BY h
             HAVING count(DISTINCT doc_id) > 1),
    hits AS (SELECT doc_id, pos FROM w2 JOIN dupw USING (h)),
    m AS (SELECT doc_id, pos,
            CASE WHEN pos > coalesce(max(pos + {SUBSTR_WIN}) OVER (
                   PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                 THEN 1 ELSE 0 END AS f
          FROM hits),
    g AS (SELECT doc_id, pos,
                 sum(f) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
          FROM m),
    spans AS (SELECT doc_id, min(pos) AS s, max(pos) + {SUBSTR_WIN} AS e
              FROM g GROUP BY doc_id, grp),
    cov AS (SELECT doc_id, sum(e - s) AS covered
            FROM spans GROUP BY doc_id),
    per_doc AS (SELECT DISTINCT doc_id, source, dlen FROM w2)
    SELECT p.source, count(*) AS n_docs,
           CAST(sum(CASE WHEN c.covered IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clean,
           CAST(sum(CASE WHEN c.covered IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_flagged,
           CAST(sum(coalesce(c.covered, 0)) AS BIGINT) AS covered_chars,
           CAST(sum(CASE WHEN c.covered IS NOT NULL THEN p.dlen
                    ELSE 0 END) AS BIGINT) AS flagged_chars
    FROM per_doc p LEFT JOIN cov c USING (doc_id)
    GROUP BY p.source
"""

ORACLE_SQL["decontaminate"] = f"""
    WITH ss AS (
      SELECT doc_id, {_SHINGLES_W} AS shs
      FROM (SELECT doc_id, {_WORDS} AS ws FROM documents)
    ),
    b AS (
      SELECT DISTINCT sh FROM (
        SELECT unnest(shs) AS sh FROM ss
        WHERE doc_id % {DECONTAM_BENCH_MOD} = 0)
    ),
    t AS (
      SELECT doc_id, unnest(shs) AS sh FROM ss
      WHERE doc_id % {DECONTAM_BENCH_MOD} <> 0
    ),
    hits AS (SELECT DISTINCT t.doc_id FROM t JOIN b USING (sh))
    SELECT d.source, count(*) AS n_docs,
           CAST(sum(CASE WHEN h.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_contaminated,
           CAST(count(*) - sum(CASE WHEN h.doc_id IS NOT NULL
                               THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clean
    FROM documents d LEFT JOIN hits h USING (doc_id)
    WHERE d.doc_id % {DECONTAM_BENCH_MOD} <> 0
    GROUP BY d.source
"""


DRIVER_CC_MAX_EDGES = 2_000_000


def connected_components(edges: DataFrame, src: str = "doc_a",
                         dst: str = "doc_b",
                         max_iters: int = 20) -> DataFrame:
    """Connected components by iterative min-label propagation — the
    driver loop runs DataFrame rounds until a fixpoint (the
    large-star/small-star family; each round is one groupBy shuffle on
    vertex id). Returns (id, component) with component = min vertex id
    reachable. Convergence needs O(log n) rounds on typical dedup
    graphs; the driver only ever collects a single change-count.

    Fast path: after candidate generation + verification the edge list
    is usually a tiny fraction of the corpus (only near-duplicate
    pairs). Below DRIVER_CC_MAX_EDGES the edges are collected and
    union-find runs on the driver in O(E·α) — one action instead of
    O(log n) rounds of two shuffles each. Above the guard, the
    distributed loop runs; both paths produce component = min reachable
    id, so the output is identical."""
    # cache the symmetric edge list: every iteration joins against it,
    # and without the cache each round re-runs the full upstream
    # candidate-generation pipeline
    sym = (edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
           .unionByName(edges.select(F.col(dst).alias("u"),
                                     F.col(src).alias("v")))).cache()
    # ONE action decides the path and fetches the edges: limit(N+1)
    # either returns every edge (small graph → driver union-find) or
    # proves the graph is big (fall through to the distributed loop).
    # A separate count()+collect() would run the upstream candidate
    # pipeline twice whenever the cache is under memory pressure.
    probe = sym.limit(DRIVER_CC_MAX_EDGES + 1).collect()
    if len(probe) <= DRIVER_CC_MAX_EDGES:
        parent: dict = {}

        def find(x):
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != x:        # path compression
                parent[x], x = root, parent[x]
            return root

        pairs = probe
        for r in pairs:
            ru, rv = find(r["u"]), find(r["v"])
            if ru != rv:                        # union by min root id
                if rv < ru:
                    ru, rv = rv, ru
                parent[rv] = ru
        verts = {v for r in pairs for v in (r["u"], r["v"])}
        spark = edges.sparkSession
        # explicit schema: createDataFrame cannot infer from an empty list
        # (zero near-duplicate pairs is a legal corpus, not an error)
        cc_schema = T.StructType([
            T.StructField("u", T.LongType()),
            T.StructField("component", T.LongType())])
        return spark.createDataFrame(
            [(v, find(v)) for v in sorted(verts)], cc_schema)
    labels = (sym.select("u").distinct()
              .select("u", F.col("u").alias("component")))
    changed = 0
    for _ in range(max_iters):
        nbr_min = (sym.join(labels.withColumnRenamed("u", "v")
                            .withColumnRenamed("component", "nc"), "v")
                   .groupBy("u").agg(F.min("nc").alias("nbr")))
        # old label rides along so the convergence check needs no extra
        # join — one count() action over the same cached frame
        updated = (labels.join(nbr_min, "u", "left")
                   .select("u", F.col("component").alias("_old"),
                           F.least("component",
                                   F.coalesce("nbr", "component"))
                           .alias("component")).cache())
        changed = updated.filter(
            F.col("component") != F.col("_old")).count()
        labels = updated.drop("_old")
        if changed == 0:
            break
    if changed != 0:
        # plain min-label propagation converges in O(graph diameter)
        # rounds, not O(log n) — a chain longer than max_iters hops would
        # otherwise silently return split components
        raise RuntimeError(
            f"connected_components: not converged after {max_iters} "
            f"rounds ({changed} labels still changing); raise max_iters "
            "or pre-contract the graph")
    return labels


def dedup_clusters(spark: SparkSession, sf_dir: str,
                   threshold: float = 0.6) -> DataFrame:
    """Near-duplicate CLUSTERS: n-gram Jaccard pairs → connected
    components → per-cluster accounting (keep-one policy = min doc_id).
    The iterative step is the one operator here that is not a single
    SQL expression — the oracle uses DuckDB's recursive CTE."""
    # cache: the symmetric union in connected_components reads the pair
    # list twice, which would re-run the whole shingle pipeline
    pairs = dedup_ngram_jaccard(spark, sf_dir, threshold).cache()
    comp = connected_components(pairs)
    return (comp.groupBy("component")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.min("u").alias("keep_id"))
            .filter(F.col("n_docs") >= 2)
            .orderBy("component"))


ORACLE_SQL["dedup_clusters"] = f"""
    WITH RECURSIVE pairs AS ({ORACLE_SQL["dedup_ngram_jaccard"]}),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach (u, v) AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ),
    comp AS (
      SELECT u, least(u, min(v)) AS component
      FROM reach GROUP BY u
    )
    SELECT component, count(*) AS n_docs, min(u) AS keep_id
    FROM comp GROUP BY component HAVING count(*) >= 2
"""
