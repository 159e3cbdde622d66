"""Deduplication operators for web-scale corpora.

All portable-hash variants use md5-derived 60-bit integers
(``conv(substr(md5(x),1,15),16,10)``) so the DuckDB oracle computes
byte-identical hashes — and because md5 is stable across JVM/engine
versions, dedup decisions are reproducible across runs/clusters
(a real operational requirement, not just a test convenience).

Scale notes per operator are in each docstring; the common theme:
every candidate-generation step is a groupBy/join on a bounded key
(hash, band, bucket) — no all-pairs product ever materializes except
inside an explicitly bounded candidate set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..analyzer import norm_col, tokens_col

# jaccard_pairs' one-time token-df-cap recall notice (see its body)
_JACCARD_CAP_WARNED = False


def _h60(col: F.Column) -> F.Column:
    """Portable 60-bit hash (md5-based, engine-agnostic)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def exact_dedup(docs: DataFrame, field: str = "text") -> DataFrame:
    """Exact dedup on normalized text: one survivor (min doc_id) per
    distinct normalized text.  Pure hash-aggregate — one shuffle on
    the text hash; at 100 TB group keys are the 60-bit hashes, not
    the full strings (group by hash, min doc_id)."""
    return (
        docs.select("doc_id", _h60(norm_col(F.col(field))).alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("survivor_id"), F.count(F.lit(1)).cast("long").alias("n_dups"))
        .orderBy("survivor_id")
    )


def dedup_against(
    batch: DataFrame, corpus: DataFrame, field: str = "text", confirm: bool = True
) -> DataFrame:
    """Incremental exact dedup: which docs of a NEW batch duplicate
    (by normalized text) a doc already in an EXISTING corpus — the
    every-snapshot question of a continuously-ingesting training
    pipeline ("drop what we already trained on").

    One equi-join on the 60-bit text hash: batch∧corpus rows
    co-locate by hash, nothing is ever compared all-pairs.  At 100 TB
    the corpus side is the big one — it arrives as hashes only
    (8 B/doc), and a pre-aggregated corpus hash table (min doc_id per
    hash) can be persisted once and reused across batches.

    ``confirm`` (default) re-checks actual text equality on the
    candidate set — a join bounded by #candidates, not corpus size —
    so a 60-bit collision can never flag a non-duplicate for
    dropping (at 10^12×10^9 corpus×batch, expected raw collisions
    are ~10^3; confirmed output has zero false positives).  Returns
    (doc_id, dup_of) — the batch doc and the smallest matching corpus
    doc_id."""
    b = batch.select(
        "doc_id", norm_col(F.col(field)).alias("_bt")
    ).withColumn("text_hash", _h60(F.col("_bt")))
    c = (
        corpus.select(_h60(norm_col(F.col(field))).alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("dup_of"))
    )
    cand = b.join(c, "text_hash")
    if confirm:
        corp_txt = corpus.select(
            F.col("doc_id").alias("dup_of"), norm_col(F.col(field)).alias("_ct")
        )
        cand = cand.join(corp_txt, "dup_of").where(F.col("_bt") == F.col("_ct"))
    return cand.select("doc_id", "dup_of").orderBy("doc_id")


def fingerprint_dedup(docs: DataFrame, field: str = "text", n_prefix_tokens: int = 5) -> DataFrame:
    """Near-dup candidate groups by leading-token fingerprint
    (cheap recall-oriented pass before expensive pairwise checks)."""
    fp = F.array_join(F.slice(tokens_col(F.col(field)), 1, n_prefix_tokens), " ")
    return (
        docs.select("doc_id", _h60(fp).alias("fp_hash"))
        .groupBy("fp_hash")
        .agg(
            F.count(F.lit(1)).cast("long").alias("group_size"),
            F.min("doc_id").alias("survivor_id"),
        )
        .where(F.col("group_size") >= 2)
        .orderBy("survivor_id")
    )


def minhash_signatures(
    docs: DataFrame,
    field: str = "text",
    n_hashes: int = 16,
    shape: str = "grouped",
) -> DataFrame:
    """MinHash signatures over the distinct-token set.

    SINGLE-digest hash family (Kirsch–Mitzenmacher double hashing):
    one md5 per token yields h1 (60 bits, hex chars 1-15) and h2
    (44 bits, hex chars 17-27); permutation i's hash is the affine
    mix ``(h1 + i*h2) & (2^60-1)``.  One md5 instead of n_hashes
    md5 calls per token — measured ~n× less hashing with the same
    pairwise-collision behavior (K-M 2006 shows two independent
    hashes suffice for the family).  h2's 44-bit width keeps
    ``h1 + i*h2`` inside int64 for i ≤ ~2000 (no ANSI overflow).

    Two measured plan shapes, identical output:

    - ``shape="grouped"`` (default): explode → distinct →
      groupBy(doc_id) with n_hashes min aggregates.  Two exchanges,
      but every expression stays inside whole-stage codegen, and
      because each doc's tokens live in one input row, partial
      aggregation reduces the second shuffle to one row per doc.
    - ``shape="rowlocal"`` (opt-in): zero exchanges — per-doc
      distinct tokens via ``array_distinct``, each permutation min
      via ``array_min(transform(...))``, digests hoisted into their
      own ``transform`` pass so md5 runs once per token (lambda
      bodies get no subexpression elimination).  Higher-order
      functions are CodegenFallback-interpreted, so this trades CPU
      for shuffle: the right trade only when the cluster is
      network/shuffle-bound (the avoided exchange carries the full
      per-doc distinct-token stream — approximately the tokenized
      corpus size).

    A/B at sf0.1 (5k docs, local[32], min-of-3, noop sink,
    2026-08-20): n=4 grouped 0.752 s vs rowlocal 1.297 s; n=16
    grouped 0.735 s vs rowlocal 0.915 s — compute-bound local mode
    favors grouped, hence the default.  Value-identity of the two
    shapes is pytest-asserted."""
    if shape == "rowlocal":
        toks = F.array_distinct(
            F.filter(tokens_col(F.col(field)), lambda t: t != F.lit(""))
        )
        # digest in its own pass: subexpression elimination is
        # skipped inside lambdas, so md5 written once per (h1, h2)
        # pair in a single transform would run twice per token
        digests = F.transform(toks, lambda t: F.md5(t))
        hs = F.transform(
            digests,
            lambda d: F.struct(
                F.conv(F.substring(d, 1, 15), 16, 10).cast("long").alias("h1"),
                F.conv(F.substring(d, 17, 11), 16, 10).cast("long").alias("h2"),
            ),
        )
        staged = docs.select("doc_id", hs.alias("_hs")).where(F.size("_hs") > 0)
        mask = (1 << 60) - 1
        sig_cols = [
            F.array_min(
                F.transform(
                    F.col("_hs"),
                    lambda s: (s["h1"] + F.lit(i) * s["h2"]).bitwiseAND(
                        F.lit(mask)
                    ),
                )
            ).alias(f"mh{i}")
            for i in range(n_hashes)
        ]
        return staged.select("doc_id", *sig_cols)
    if shape != "grouped":
        raise ValueError(f"unknown minhash shape {shape!r}")
    digest = F.md5(F.col("token"))
    h1 = F.conv(F.substring(digest, 1, 15), 16, 10).cast("long")
    h2 = F.conv(F.substring(digest, 17, 11), 16, 10).cast("long")
    toks = (
        docs.select("doc_id", F.explode(tokens_col(F.col(field))).alias("token"))
        .where(F.col("token") != "")
        .distinct()
        .select("doc_id", h1.alias("_h1"), h2.alias("_h2"))
    )
    mask = (1 << 60) - 1
    aggs = [
        F.min(
            (F.col("_h1") + F.lit(i) * F.col("_h2")).bitwiseAND(F.lit(mask))
        ).alias(f"mh{i}")
        for i in range(n_hashes)
    ]
    return toks.groupBy("doc_id").agg(*aggs)


def minhash_lsh_buckets(
    docs: DataFrame,
    field: str = "text",
    n_hashes: int = 16,
    band_size: int = 4,
    shape: str = "grouped",
) -> DataFrame:
    """LSH banding: signature split into bands of ``band_size``;
    band hash = md5 of the concatenated band values.  Output: buckets
    holding ≥2 docs — the candidate groups.  Join-free; the bucket
    groupBy key spreads uniformly (hash values).

    Single-fan-out plan (r5): the n_bands band hashes are computed
    row-locally over the signature columns and fanned out with ONE
    ``posexplode``; the bucket groupBy is the only shuffle this
    stage adds.  The previous shape unioned n_bands projections of
    the signature plan — correct (the branches shared the
    signature exchange via ReusedExchange) but it re-ran the
    post-aggregation projection per band and depended on exchange
    reuse surviving AQE.  Measured parity at sf0.1 (min-of-3:
    union 1.09 s, posexplode 1.27 s, within the box's noise band);
    chosen for the structurally simpler single-pass plan.
    ``shape`` is forwarded to :func:`minhash_signatures` (with
    ``"rowlocal"`` the whole candidate generation is one scan plus
    the single bucket exchange)."""
    if n_hashes % band_size != 0:
        raise ValueError(
            f"n_hashes={n_hashes} not divisible by band_size="
            f"{band_size}: trailing hashes would be silently dropped "
            "and measured recall would undershoot the configured "
            "S-curve"
        )
    sigs = minhash_signatures(docs, field, n_hashes, shape=shape)
    n_bands = n_hashes // band_size
    band_hashes = F.array(
        *[
            _h60(
                F.concat_ws(
                    "|",
                    *[
                        F.col(f"mh{i}").cast("string")
                        for i in range(b * band_size, (b + 1) * band_size)
                    ],
                )
            )
            for b in range(n_bands)
        ]
    )
    exploded = sigs.select(
        "doc_id", F.posexplode(band_hashes).alias("band", "band_hash")
    )
    return (
        exploded.groupBy("band", "band_hash")
        .agg(
            F.count(F.lit(1)).cast("long").alias("bucket_size"),
            F.min("doc_id").alias("min_doc"),
        )
        .where(F.col("bucket_size") >= 2)
        .orderBy("band", "band_hash")
    )


def simhash(docs: DataFrame, field: str = "text", bits: int = 32) -> DataFrame:
    """SimHash over tf-weighted token hashes.

    Per doc: for each bit position, sum +tf/-tf by the token-hash
    bit, sign → bit.  Expressed as explode → per-bit column
    aggregates (no UDF): each OCCURRENCE contributes ±1 per bit, so
    the sums are computed in a SINGLE groupBy(doc_id) directly over
    the occurrence stream — algebraically identical to the old
    tf-preaggregated shape (sum over occurrences of ±1 ≡ sum over
    distinct tokens of tf·±1) but one exchange instead of two;
    map-side partial aggregation reduces each partition to one
    (doc_id, 32 sums) row before the shuffle.  A/B at sf0.1
    local[32] (min of 2): 1.277 → 0.910 s.  simhash bit_j =
    (sum > 0)."""
    occ = (
        docs.select("doc_id", F.explode(tokens_col(F.col(field))).alias("token"))
        .where(F.col("token") != "")
        .select("doc_id", _h60(F.col("token")).alias("h"))
    )
    aggs = []
    for j in range(bits):
        bit = F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1))
        aggs.append(F.sum(bit * 2 - 1).alias(f"s{j}"))
    sums = occ.groupBy("doc_id").agg(*aggs)
    sim = F.lit(0).cast("long")
    for j in range(bits):
        sim = sim + F.when(F.col(f"s{j}") > 0, F.lit(1).cast("long") * (1 << j)).otherwise(0)
    return sums.select("doc_id", sim.alias("simhash"))


def jaccard_pairs(
    docs: DataFrame,
    field: str = "text",
    threshold: float = 0.5,
    max_doc_id: int | None = None,
    round_to: int = 6,
    max_token_df: int | None = 10_000,
) -> DataFrame:
    """Token-set Jaccard similarity for candidate pairs.

    Candidates = pairs sharing ≥1 token (inverted-index join on
    token — the posting-list machinery reused for similarity).

    ``max_token_df`` bounds the self-join at scale: a token appearing
    in d docs generates O(d²) candidate rows, so one stop-word-like
    token with df=10⁶ would materialize 10¹² pairs.  Tokens with
    df > max_token_df are excluded from CANDIDATE GENERATION (they
    still count in the intersection/union once a pair is a candidate
    via some rarer shared token — so scores stay exact; only pairs
    whose EVERY shared token is ubiquitous are missed, a deliberate
    recall trade documented here).  The cap defaults ON (10_000) so
    the operator is scale-safe out of the box; pass ``None`` to
    explicitly opt in to exact all-pairs candidate generation on
    bounded inputs."""
    d = docs
    if max_doc_id is not None:
        d = d.where(F.col("doc_id") < max_doc_id)
    toks = (
        d.select("doc_id", F.explode(tokens_col(F.col(field))).alias("token"))
        .where(F.col("token") != "")
        .distinct()
    )
    sizes = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("set_size"))
    if max_token_df is None:
        a = toks.alias("a")
        b = toks.alias("b")
        inter = (
            a.join(b, (F.col("a.token") == F.col("b.token")) & (F.col("a.doc_id") < F.col("b.doc_id")))
            .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
    else:
        dfs = toks.groupBy("token").agg(F.count(F.lit(1)).alias("token_df"))
        # one-time per-process recall notice: the cap trades recall
        # (pairs whose EVERY shared token is ubiquitous are missed)
        # and users migrating from the old uncapped default must see
        # that.  Issued plan-side, unconditionally — an earlier
        # version probed whether some token actually exceeds the cap,
        # but that probe ran the whole tokenize→distinct→groupBy
        # pipeline EAGERLY at call time (breaking laziness) and,
        # uncached, a second time when the result was evaluated —
        # doubling the operator's most expensive stage to decide a
        # log line.
        global _JACCARD_CAP_WARNED
        if not _JACCARD_CAP_WARNED:
            _JACCARD_CAP_WARNED = True
            import warnings

            warnings.warn(
                f"jaccard_pairs: max_token_df={max_token_df} — tokens "
                "above the cap are excluded from candidate generation, "
                "so pairs whose EVERY shared token exceeds it are missed "
                "(scores of surviving pairs stay exact). Pass "
                "max_token_df=None for exact all-pairs generation on "
                "bounded inputs.",
                stacklevel=2,
            )
        cand_toks = (
            toks.join(dfs.where(F.col("token_df") <= max_token_df), "token")
            .select("doc_id", "token")
        )
        a = cand_toks.alias("a")
        b = cand_toks.alias("b")
        pairs = (
            a.join(b, (F.col("a.token") == F.col("b.token")) & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
            .distinct()
        )
        # exact intersection sizes for the candidate pairs, over the
        # FULL token sets (the cap only limited candidate generation)
        ta = toks.select(F.col("doc_id").alias("doc_a"), "token")
        tb = toks.select(F.col("doc_id").alias("doc_b"), "token")
        inter = (
            pairs.join(ta, "doc_a")
            .join(tb, ["doc_b", "token"])
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("set_size").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("set_size").alias("size_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (F.col("size_a") + F.col("size_b") - F.col("n_inter")),
                round_to,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
        .orderBy("doc_a", "doc_b")
    )


def embedding_neardup(
    vectors: DataFrame,
    threshold: float,
    max_id: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    use_lsh: bool = False,
    n_planes: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Embedding-cosine near-duplicate DEDUP: keep each vector unless
    it has a near-duplicate (cosine ≥ threshold) with a SMALLER id —
    the min-id-survivor rule every other dedup op here uses, applied
    to the embedding space.

    ``use_lsh=False`` scores exact pairs (quadratic — bound it with
    ``max_id`` or pre-filtering); ``use_lsh=True`` routes candidate
    generation through the hyperplane-LSH buckets (the 100 TB path,
    recall < 1 by design — same trade as ``minhash_lsh_buckets``)."""
    from . import ann

    pairs = (
        ann.lsh_bucketed_pairs(
            vectors if max_id is None else vectors.where(F.col(id_col) < max_id),
            threshold,
            n_planes=n_planes,
            dim=dim,
            id_col=id_col,
            vec_col=vec_col,
        )
        if use_lsh
        else ann.cosine_pairs_above(
            vectors, threshold, max_id=max_id, id_col=id_col, vec_col=vec_col
        )
    )
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    base = vectors if max_id is None else vectors.where(F.col(id_col) < max_id)
    return (
        base.select(id_col).join(losers, id_col, "left_anti").orderBy(id_col)
    )
