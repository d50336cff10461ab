"""Deduplication operator family over a generic `documents` table
(doc_id, text, lang, source, ...) — the training-data-pipeline face of the
engine. Five methods, same contract: emit duplicate groups or pairs.

* exact: hash-groupBy on sha256(text) (reference Duplication.py:34-46 analog)
* ngram-Jaccard: EXACT k-shingle Jaccard via a shingle equi-join — fully
  JVM-side, SQL-expressible (carries a DuckDB oracle)
* MinHash+LSH: the scalable path (signature UDF -> bands -> confirm)
* SimHash: Hamming-radius near-dup over 64-bit sketches
* embedding-cosine near-dup lives in operators/similarity.py
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from replicheck_spark.config import DedupConfig
from replicheck_spark.functions.udfs import make_signature_udf
from replicheck_spark.operators.blocks import _gated_hint
from replicheck_spark.operators.confirm import confirm_pairs
from replicheck_spark.operators.exact import capped_members_agg
from replicheck_spark.operators.lsh import candidate_pairs, explode_bands


def _sig_col(cfg: DedupConfig, text_col: str = "text"):
    """The signature struct column for a raw-text documents table."""
    u = make_signature_udf(
        cfg.shingle_k, cfg.num_perm, cfg.lsh_bands, cfg.lsh_rows, cfg.seed
    )
    return u(F.col(text_col))


def exact_dup_groups(
    docs: DataFrame, members_cap: int | None = None
) -> DataFrame:
    """Groups of byte-identical raw text: (text_sha, n_dups, doc_ids sorted,
    cross_source).

    ``members_cap=None`` (default) lists EVERY member — the oracle-exact
    semantics the driver's DuckDB comparison requires. Production at web
    scale should pass a cap: a 10^8-member boilerplate group would otherwise
    materialize one giant collect_list aggregation buffer in a single task.
    With a cap, the buffer is bounded via the same pre-agg row_number marker
    as the pipeline face (exact.capped_members_agg) and truncation stays
    metered in-band: ``n_dups`` is always the TRUE group size, so
    ``n_dups - size(doc_ids)`` is the per-group truncation count."""
    keyed = docs.withColumn("text_sha", F.sha2("text", 256))
    if members_cap is None:
        members = F.sort_array(F.collect_list("doc_id"))
    else:
        rn, members = capped_members_agg("doc_id", "text_sha", members_cap)
        keyed = keyed.withColumn("_member_rn", rn)
    return (
        keyed.groupBy("text_sha")
        .agg(
            F.count("*").alias("n_dups"),
            members.alias("doc_ids"),
            (F.countDistinct("source") > 1).alias("cross_source"),
        )
        .filter(F.col("n_dups") >= 2)
    )


def exact_dedup_keep_first(docs: DataFrame) -> DataFrame:
    """Canonical selection: one surviving doc_id per distinct text (min doc_id)
    — the 'dedup the corpus' action. Hash agg, no window, no collect."""
    return (
        docs.groupBy(F.sha2("text", 256).alias("text_sha"))
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_dups"))
    )


def _shingles_df(
    docs: DataFrame, k: int, scope_col: str | None = None
) -> DataFrame:
    """(doc_id, shingle long, n_shingles) — distinct k-shingles via JVM array
    expressions (sequence + slice + concat_ws), no Python.

    ``scope_col`` folds the scope value into every shingle hash
    (``xxhash64(scope, gram)``): docs in different scopes then share no
    index keys at all, so the inverted-index join is scope-local with zero
    new machinery — the exact-path mirror of minhash_lsh_pairs' band-key
    folding. Callers must pre-filter NULL scopes (xxhash64 ignores a NULL
    argument, which would silently merge all NULL-scope docs into one
    shared scope).

    Shingles are xxhash64-keyed at the source: the inverted-index join and
    the pair aggregation then shuffle and compare 8-byte longs instead of
    ~k-word strings (~4x narrower shuffle rows, no string hashing in the
    join). Distinct-hash counts stand in for distinct-shingle counts — a
    within-doc collision (p ~ 2^-64 per shingle pair, ~1e-8 corpus-wide at
    sandbox scale, same accepted odds as doc_id = xxhash64(url)) would
    perturb one count by 1.

    The token array is projected ONCE per row before the gram lambda:
    higher-order-function lambdas are interpreted (no codegen CSE inside),
    so an inlined split(text) would re-tokenize the document at every
    shingle position — O(tokens^2) per doc (the round-6 scale-smoke
    pathology first caught in repetition_stats; same fix everywhere).
    CollapseProject cannot re-inline it: the alias is non-cheap and
    referenced more than once."""
    extra = [F.col(scope_col)] if scope_col is not None else []
    toked = docs.select(
        "doc_id", *extra, F.split(F.col("text"), " ").alias("t")
    )
    t = F.col("t")
    if scope_col is None:
        gram_hash = lambda i: F.xxhash64(F.concat_ws(" ", F.slice(t, i, k)))
    else:
        gram_hash = lambda i: F.xxhash64(
            F.col(scope_col), F.concat_ws(" ", F.slice(t, i, k))
        )
    sh = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(t) - (k - 1), F.lit(1))),
            gram_hash,
        )
    )
    with_sh = toked.select("doc_id", sh.alias("shingles")).withColumn(
        "n_shingles", F.size("shingles")
    )
    return with_sh.select(
        "doc_id", "n_shingles", F.explode("shingles").alias("shingle")
    )


def ngram_jaccard_pairs(
    docs: DataFrame, k: int = 5, threshold: float = 0.8,
    df_cap: int | None = 100_000, return_dropped: bool = False,
    n_docs: int | None = None, scope_col: str | None = None,
) -> DataFrame | tuple[DataFrame, DataFrame]:
    """EXACT Jaccard >= threshold over k-shingles: inverted-index equi-join on
    shingle -> per-pair intersection count -> jaccard filter.

    Scale notes: the join shuffles on the shingle value — high-frequency
    shingles (boilerplate) are the skew source. AQE skew-join splits the hot
    tasks, but the PAIR COUNT itself is quadratic in a shingle's document
    frequency (a shingle in 10^6 docs contributes ~10^12 join rows), so
    shingles with corpus df > ``df_cap`` are dropped from the index BEFORE
    the self-join — the standard stopword-shingle guard. The default cap is
    far above any sandbox fixture's df (fixtures are untouched); web-scale
    callers tune it down. Dropped shingles still count toward ``na``/``nb``
    (the union) but can no longer intersect, so affected pairs' Jaccard is
    UNDERESTIMATED — conservative: the cap can only suppress pairs, never
    invent them, and a ubiquitous shingle moves Jaccard by O(1/|union|).
    Never silent: whenever the guard engages a warning logs that dropping is
    in effect, and with ``return_dropped=True`` the second return value is
    the lazily-checkpointed (shingle, df) frame of dropped keys — count it
    after any action on the pairs for the metrics table (the same
    consume-after-action pattern as lsh.candidate_pairs' ``capped``). The
    capped semantics are what a capped run means; the registered DuckDB
    oracle models the UNCAPPED contract, which is identical whenever
    n_docs <= df_cap (always true at the driver's comparison SFs).
    MinHash+LSH below is the sublinear approximation.

    ``scope_col`` (e.g. "lang") restricts pairing to docs sharing that
    column's NON-NULL value — the scope folds into every shingle hash
    (see _shingles_df), so cross-scope docs share no index keys and the
    join is scope-local; NULL-scope docs pair with nothing (filtered up
    front — SQL equality semantics, same contract as minhash_lsh_pairs).
    """
    if scope_col is not None:
        docs = docs.filter(F.col(scope_col).isNotNull())
    e = _shingles_df(docs, k, scope_col=scope_col)
    dropped = None
    # a shingle's df can never exceed the doc count (shingles are distinct
    # within a doc), so when n_docs <= df_cap the guard cannot bind and the
    # df agg is skipped entirely. The count is metadata-cheap for a raw
    # parquet scan but a real job for a derived frame — callers that already
    # know the size (or call this repeatedly on the same frame, e.g. the
    # three closure faces) pass ``n_docs`` to skip the action.
    if df_cap is not None and n_docs is None:
        n_docs = docs.count()
    if df_cap is not None and n_docs > df_cap:
        import logging

        logging.getLogger(__name__).warning(
            "ngram_jaccard_pairs: df_cap guard engaged (n_docs=%d > "
            "df_cap=%d) — shingles with corpus df > %d are dropped from the "
            "inverted index (Jaccard only underestimated); pass "
            "return_dropped=True to count the dropped keys", n_docs, df_cap,
            df_cap,
        )
        # df agg is one map-side-combined shuffle; the hot frame is tiny
        # (<= total shingle rows / df_cap keys), so AQE broadcasts the
        # anti-join probe on its own — no forced hint on a data-dependent
        # frame (same rule as blocks._gated_hint).
        dropped = (
            e.groupBy("shingle")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") > df_cap)
            .localCheckpoint(eager=False)
        )
        e = e.join(dropped.select("shingle"), "shingle", "left_anti")
    a = e.select(
        F.col("doc_id").alias("a"), F.col("n_shingles").alias("na"), "shingle"
    )
    b = e.select(
        F.col("doc_id").alias("b"), F.col("n_shingles").alias("nb"), "shingle"
    )
    inter = (
        a.join(b, "shingle")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(
            F.count("*").alias("n_inter"),
            F.first("na").alias("na"),
            F.first("nb").alias("nb"),
        )
    )
    jac = F.col("n_inter").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_inter")
    ).cast("double")
    pairs = (
        inter.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )
    if return_dropped:
        empty = docs.sparkSession.createDataFrame([], "shingle long, df long")
        return pairs, (dropped if dropped is not None else empty)
    return pairs


def _expand_exact_members(
    edges: DataFrame, members: DataFrame, value_cols: list[str]
) -> DataFrame:
    """Representative-level near-dup edges (a_sha, b_sha, values) -> ALL
    member pairs: group(a_sha) x group(b_sha).

    The LSH band stage keeps one representative per identical-text group
    (operators/lsh.py explode_bands step 2) so giant exact clusters cost
    O(cluster), not O(cluster^2). A pair-LISTING operator must undo that:
    if text A ~ text B then every holder of A pairs with every holder of B,
    at the SAME jaccard/hamming (identical text -> identical shingle set /
    simhash). Two sha-keyed joins; output size is the declared semantics'
    own |A|x|B|. No dedup needed: each doc has one sha, and confirm emits
    each (a_sha, b_sha) once.

    The member table is semi-join-pruned to shas that actually appear in a
    confirmed edge BEFORE the expansion joins: edges are tiny relative to the
    corpus, so the prune (AQE turns it into a broadcast) keeps the two
    expansion joins from shuffling the full signature table twice — at 10^12
    docs the unpruned version re-shuffles every member row per join. The
    edge frame is lazily checkpointed because the prune makes it a
    multi-consumer (the sha list + the join probe) — without the cut,
    Catalyst would re-run the whole LSH confirm once per consumer.
    """
    edges = edges.select("a_sha", "b_sha", *value_cols).localCheckpoint(
        eager=False
    )
    rel_shas = (
        edges.select(F.col("a_sha").alias("sha256"))
        .unionByName(edges.select(F.col("b_sha").alias("sha256")))
        .distinct()
    )
    pruned = members.join(rel_shas, "sha256", "left_semi")
    ma = pruned.select(F.col("sha256").alias("a_sha"), F.col("doc_id").alias("_x"))
    mb = pruned.select(F.col("sha256").alias("b_sha"), F.col("doc_id").alias("_y"))
    return (
        edges.join(ma, "a_sha")
        .join(mb, "b_sha")
        .select(
            F.least("_x", "_y").alias("a"),
            F.greatest("_x", "_y").alias("b"),
            *value_cols,
        )
    )


def minhash_lsh_pairs(
    docs: DataFrame, cfg: DedupConfig, threshold: float | None = None,
    scope_col: str | None = None,
) -> DataFrame:
    """MinHash-LSH candidate generation + exact-Jaccard confirm over a
    documents table (raw text, no min-size gate): (a, b, jaccard).

    At the default config (128 perms, 32 bands x 4 rows) the miss probability
    at jaccard 0.8 is (1-0.8^4)^32 ~ 5e-8, so on non-adversarial data this
    equals ngram_jaccard_pairs — which is exactly what the driver's DuckDB
    oracle checks. Representative-level confirmed edges are expanded back to
    all members of each identical-text group so the listing matches the
    oracle even when exact dups participate in near-dup pairs.

    ``localCheckpoint(eager=False)`` on the signatures: the band branch, the
    confirm branch and the member expansion all consume them, and without
    materialization Catalyst re-evaluates the signature UDF once per branch
    (measured 2x ArrowEvalPython = ~2x the dominant cost). Lazy: the final
    action materializes it in-line — an eager checkpoint is a dedicated
    barrier job whose driver round-trip is pure serial floor.

    ``scope_col`` (e.g. "lang") restricts pairing to docs sharing that
    column's NON-NULL value (NULL never matches anything — SQL equality
    semantics, mirrored by the oracle) — the standard 10^12-doc move
    (cross-language near-dup
    pairs are meaningless work; scoping shrinks every band bucket). One
    pass, zero new machinery: the scope is folded into BOTH identity keys —
    ``sha256 -> scope#sha256`` (rep suppression, sha exclusion, and member
    expansion all become scope-local) and each band hash ->
    ``xxhash64(scope, hash)`` (docs in different scopes can never share a
    bucket, up to the usual 64-bit collision odds) — after which the
    unmodified band/confirm/expand machinery is scope-correct by
    construction. SQL-expressible: the oracle adds ``x.lang = y.lang`` to
    the shingle join.
    """
    cfg = cfg if threshold is None else DedupConfig(
        **{**cfg.to_dict(), "min_similarity": threshold}
    )
    if scope_col is None:
        base = docs.select(
            F.col("doc_id"),
            F.col("doc_id").cast("string").alias("url"),
            F.sha2("text", 256).alias("sha256"),
            _sig_col(cfg).alias("sig"),
        )
    else:
        # NULL-scope docs pair with NOTHING — SQL equality semantics (the
        # oracle's x.lang = y.lang never matches NULLs), so they are
        # excluded up front. Without the filter, concat_ws skips a NULL
        # segment and xxhash64 ignores a NULL argument, silently merging
        # every NULL-scope doc into one shared scope (review r6 finding —
        # common on web crawls before lang-ID has run).
        raw = docs.filter(F.col(scope_col).isNotNull()).select(
            F.col("doc_id"),
            F.col("doc_id").cast("string").alias("url"),
            F.col(scope_col).alias("_scope"),
            F.sha2("text", 256).alias("_sha"),
            _sig_col(cfg).alias("_sig"),
        )
        base = raw.select(
            "doc_id", "url",
            F.concat_ws("#", "_scope", "_sha").alias("sha256"),
            F.struct(
                F.col("_sig.shingles").alias("shingles"),
                F.col("_sig.simhash").alias("simhash"),
                F.transform(
                    F.col("_sig.bands"),
                    lambda h: F.xxhash64(F.col("_scope"), h),
                ).alias("bands"),
            ).alias("sig"),
        )
    sigs = (
        base.select(
            "doc_id", "url", "sha256",
            F.col("sig.shingles").alias("shingles"),
            F.col("sig.simhash").alias("simhash"),
            F.col("sig.bands").alias("bands"),
        )
        .localCheckpoint(eager=False)
    )
    cands, _ = candidate_pairs(explode_bands(sigs, cfg), cfg)
    edges = confirm_pairs(cands, sigs, cfg)
    return _expand_exact_members(
        edges, sigs.select("doc_id", "sha256"), ["jaccard"]
    )


def _closure_edges(
    docs: DataFrame, k: int, threshold: float, method: str,
    cfg: DedupConfig | None, df_cap: int | None = 100_000,
    n_docs: int | None = None, scope_col: str | None = None,
) -> DataFrame:
    """Edge frame (a, b) for the closure-based corpus faces (cluster_labels /
    near_dedup_survivors / source_dup_summary).

    ``method="exact"``: ngram_jaccard_pairs — the inverted-index join whose
    output is SQL-expressible (the driver-checked default). Identical texts
    have jaccard 1.0, so exact-duplicate cliques ride along for free.

    ``method="lsh"``: the 100x path a production run uses — minhash_lsh_pairs
    (salted capped band buckets, semi-join-pruned confirm; pair-miss ~5e-8 at
    the default band config) UNIONED with exact-duplicate star edges. The
    union is required for label parity: the LSH confirm excludes
    identical-sha pairs (they belong to the exact stage), and its
    member-expansion links members of group A to members of group B but
    never members of A to each other — without the stars, a pure
    exact-duplicate clique would be invisible to the closure.
    tests/test_dedup_expansion.py gates LSH-edge labels == exact-edge labels
    on the planted fixture corpus.

    ``df_cap``/``n_docs`` are forwarded to ngram_jaccard_pairs on the exact
    path: pass ``n_docs`` when the caller already knows the corpus size to
    skip the guard's deciding count (ADVICE r6 #1); above ``df_cap`` docs
    the hot-shingle guard engages and labels can shift conservatively (pairs
    suppressed, never invented) — the log warning is the evidence trail.

    ``scope_col`` (e.g. "lang") makes the WHOLE edge graph scope-local on
    both methods: the LSH path forwards it to minhash_lsh_pairs (band keys
    + rep keys scope-folded) AND scopes the exact-star sha keys the same
    way (identical texts under different scope values stay unlinked — the
    scope is a declared partition of the corpus, not a hint), the exact
    path folds it into the shingle index keys. At 10^12 docs cross-language
    near-dup comparison is pure wasted work; scoping shrinks every band
    bucket and the pair space by the language distribution. NULL-scope
    docs pair with NOTHING (SQL equality semantics on both paths).
    """
    if method == "exact":
        return ngram_jaccard_pairs(
            docs, k=k, threshold=threshold, df_cap=df_cap, n_docs=n_docs,
            scope_col=scope_col,
        ).select("a", "b")
    if method == "lsh":
        from replicheck_spark.operators.exact import exact_edges

        c = cfg or DedupConfig()
        c = DedupConfig(
            **{**c.to_dict(), "min_similarity": threshold, "shingle_k": k}
        )
        near = minhash_lsh_pairs(docs, c, scope_col=scope_col).select("a", "b")
        if scope_col is None:
            sha = F.sha2("text", 256).alias("sha256")
            elig_src = docs
        else:
            # scope#sha — the same folded identity key minhash_lsh_pairs
            # uses, so exact-duplicate cliques are scope-local too
            sha = F.concat_ws(
                "#", F.col(scope_col), F.sha2("text", 256)
            ).alias("sha256")
            elig_src = docs.filter(F.col(scope_col).isNotNull())
        elig = elig_src.select(
            "doc_id",
            F.col("doc_id").cast("string").alias("url"),
            sha,
        )
        stars = exact_edges(elig).select("a", "b")
        return near.unionByName(stars)
    raise ValueError(f"method must be 'exact' or 'lsh', got {method!r}")


def cluster_labels(
    docs: DataFrame, k: int = 5, threshold: float = 0.8,
    edges: DataFrame | None = None, method: str = "exact",
    cfg: DedupConfig | None = None, df_cap: int | None = 100_000,
    n_docs: int | None = None, scope_col: str | None = None,
) -> DataFrame:
    """Cluster membership over the near-duplicate pair graph:
    (doc_id, cluster_id) with cluster_id = min reachable doc_id.

    Default edges are ngram_jaccard_pairs at ``threshold`` (identical texts
    have jaccard 1.0, so exact-duplicate cliques are included without a
    separate exact-edge union) — SQL-expressible (DuckDB recursive-CTE
    transitive closure), making the iterative connected-components operator
    driver-checkable end to end. ``method="lsh"`` swaps in the LSH edge path
    (see _closure_edges) — what a 10^12-doc run must use, since the exact
    inverted-index join's pair count is quadratic in hot-shingle df. Pass
    ``edges`` (a, b) to label an arbitrary precomputed edge frame (e.g. the
    pipeline's checkpointed union) with the same operator.

    ``df_cap``/``n_docs`` reach ngram_jaccard_pairs on the exact path (see
    _closure_edges): pass ``n_docs`` to skip the guard's deciding count when
    the size is already known; above ``df_cap`` docs hot-shingle dropping
    engages (logged) and labels can only merge-conservatively — suppressed
    pairs mean fewer cluster merges, never spurious ones (ADVICE r6 #1/#2).
    ``scope_col`` (e.g. "lang") makes clustering scope-local on either
    method (see _closure_edges); NULL-scope docs never cluster.
    """
    from replicheck_spark.operators.components import connected_components

    if edges is None:
        edges = _closure_edges(
            docs, k, threshold, method, cfg, df_cap=df_cap, n_docs=n_docs,
            scope_col=scope_col,
        )
    return connected_components(edges.select("a", "b"))


def near_dedup_survivors(
    docs: DataFrame, k: int = 5, threshold: float = 0.8,
    edges: DataFrame | None = None, method: str = "exact",
    cfg: DedupConfig | None = None, df_cap: int | None = 100_000,
    n_docs: int | None = None, scope_col: str | None = None,
) -> DataFrame:
    """APPLY near-dedup to the corpus: keep exactly one canonical doc per
    near-duplicate cluster (the min doc_id — which IS ``cluster_id`` under
    cluster_labels' min-reachable labeling) plus every unclustered doc. This
    is the C4/RefinedWeb-style end product a training-data pipeline ships:
    the deduplicated corpus itself, not the duplicate report.

    Returns (doc_id, lang, source, n_chars) — the full surviving row set
    minus the text payload (callers re-join text by doc_id when
    materializing, keeping this frame cheap to checkpoint/verify).

    Scale: the drop set is ``labels.filter(doc_id != cluster_id)`` — only
    clustered non-canonical docs, a tiny fraction of a web corpus — and the
    anti-join shuffles 8-byte keys; with the drop side far under the
    broadcast threshold Spark broadcasts it, so the corpus pass is
    shuffle-free. SQL-expressible (recursive-CTE closure + NOT IN),
    driver-checked against DuckDB end to end. ``edges``/``method``/``cfg``
    select the edge source exactly as in cluster_labels — ``method="lsh"``
    is the 100x production path (pytest-gated equal to the exact path on the
    fixture corpus). ``df_cap``/``n_docs`` forward to cluster_labels — on
    the exact path above ``df_cap`` docs the hot-shingle guard engages
    (logged) and EXTRA docs may survive (suppressed pairs only ever split
    clusters), never fewer. ``scope_col`` scopes the clustering (see
    _closure_edges); NULL-scope docs never cluster, so they always survive.
    """
    labels = cluster_labels(
        docs, k=k, threshold=threshold, edges=edges, method=method, cfg=cfg,
        df_cap=df_cap, n_docs=n_docs, scope_col=scope_col,
    )
    dropped = labels.filter(F.col("doc_id") != F.col("cluster_id")).select(
        "doc_id"
    )
    return docs.join(dropped, "doc_id", "left_anti").select(
        "doc_id", "lang", "source", "n_chars"
    )


def source_dup_summary(
    docs: DataFrame, k: int = 5, threshold: float = 0.8,
    edges: DataFrame | None = None, method: str = "exact",
    cfg: DedupConfig | None = None, df_cap: int | None = 100_000,
    n_docs: int | None = None, scope_col: str | None = None,
) -> DataFrame:
    """Per-source near-duplication rollup — the curation dashboard a corpus
    owner reads before deciding which feeds to throttle: for every source,
    how many docs it contributed, how many sit in a near-dup cluster, and
    how many near-dedup would DROP (non-canonical cluster members under
    cluster_labels' min-id labeling).

    Output: (source, n_docs, n_clustered, n_dropped), one row per source.

    Scale design: the label frame holds only CLUSTERED docs — a small slice
    of a web corpus — so the corpus-side left join broadcasts it (AQE); the
    final groupBy is on the low-cardinality source key with map-side
    partial aggregation. SQL-expressible end to end (recursive-CTE closure
    composed as a subquery), so the whole rollup is driver-checked.
    ``edges``/``method``/``cfg`` select the edge source exactly as in
    cluster_labels — ``method="lsh"`` is the 100x production path.
    ``df_cap``/``n_docs`` forward to cluster_labels — above ``df_cap`` docs
    the exact path's hot-shingle guard engages (logged) and n_clustered/
    n_dropped can only UNDERCOUNT (pairs suppressed, never invented).
    ``scope_col`` scopes the clustering (see _closure_edges).
    """
    labels = cluster_labels(
        docs, k=k, threshold=threshold, edges=edges, method=method, cfg=cfg,
        df_cap=df_cap, n_docs=n_docs, scope_col=scope_col,
    )
    j = docs.select("doc_id", "source").join(labels, "doc_id", "left")
    return j.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.count("cluster_id").alias("n_clustered"),
        F.sum(
            F.when(
                F.col("cluster_id").isNotNull()
                & (F.col("cluster_id") != F.col("doc_id")),
                1,
            ).otherwise(0)
        ).alias("n_dropped"),
    )


def decontaminate(
    train: DataFrame, bench: DataFrame, n: int = 13,
    broadcast_bytes_limit: int = 256 * 1024 * 1024,
) -> DataFrame:
    """Train/eval overlap flagging — the published LLM 'decontamination' step
    (GPT-3 appendix C / Llama: drop training documents sharing any word
    n-gram with a benchmark corpus; n=13 is the GPT-3 value). A training doc
    is contaminated when any of its distinct n-grams also occurs anywhere in
    ``bench``.

    Returns one row per TRAINING doc: (doc_id, n_grams, n_contaminated,
    contaminated) — n_grams is the doc's distinct n-gram count,
    n_contaminated how many of those occur in the benchmark set.

    Scale design: eval benchmarks are small next to a 10^12-doc corpus, so
    the distinct benchmark gram set (xxhash64-keyed, 8 bytes/row) WANTS a
    broadcast — the corpus-side membership test is then a map-side hash join
    and the corpus's own grams never shuffle; only the rare hit rows reach
    the per-doc count agg. But the gram set is DATA-DEPENDENT: a realistic
    union of eval suites (10^5-10^6 docs x ~10^3 tokens) is 10^8-10^9
    distinct gram hashes — hundreds of MB to GBs — and a hard hint there
    forces a driver OOM instead of a shuffle (VERDICT r6 #1; the same class
    as boilerplate_strip's key head). The hint is therefore size-gated by
    one deciding count job on the lazily-checkpointed gram frame
    (blocks._gated_hint): under ``broadcast_bytes_limit`` it broadcasts
    exactly as before; above it the hint is dropped (shuffle join, AQE
    re-plans, fallback logged — metered, never silent). The deciding count
    makes the operator eager at construction and materializes the checkpoint
    the membership join then reuses. n_grams is computed in-row (array
    expressions, no explode), so the only remaining join is hit-counts back
    onto the doc table — hits are few, AQE broadcasts them. Grams are hashed
    at the source with the same accepted xxhash64 collision odds as
    _shingles_df.

    A doc with fewer than ``n`` tokens has ZERO n-grams (GPT-3 semantics):
    the gram array is guarded with a size check, the same way
    repetition_stats guards its gram windows — without it, a sub-n doc was
    assigned one truncated whole-text pseudo-gram, so a short train doc
    byte-equal to a short bench doc got flagged via a sub-n overlap and its
    n_grams misreported as 1 (ADVICE r5 #2; the oracle mirrors the guard).
    """
    def with_grams(df: DataFrame) -> DataFrame:
        # token array projected once per row (interpreted lambdas would
        # otherwise re-split the text per gram position — O(tokens^2)/doc,
        # see _shingles_df)
        t = F.col("_t")
        full = F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(t) - (n - 1)),
                lambda i: F.xxhash64(F.concat_ws(" ", F.slice(t, i, n))),
            )
        )
        gs = F.when(F.size(t) >= n, full).otherwise(
            F.expr("array()").cast("array<bigint>")
        )
        return df.select(
            "doc_id", F.split(F.col("text"), " ").alias("_t")
        ).select("doc_id", gs.alias("gs"))

    bench_grams = (
        with_grams(bench).select(F.explode("gs").alias("gh"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # 8-byte long gram hash + row overhead ~ 24 bytes/key
    gram_hint, _ = _gated_hint(
        bench_grams, 24, broadcast_bytes_limit, "decontaminate.bench_grams"
    )
    # gs is already distinct-per-doc, so a plain count after the
    # membership join is the distinct contaminated-gram count.
    hits = (
        with_grams(train).select("doc_id", F.explode("gs").alias("gh"))
        .join(gram_hint(bench_grams), "gh")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_contaminated"))
    )
    base = with_grams(train).select("doc_id", F.size("gs").alias("n_grams"))
    return base.join(hits, "doc_id", "left").select(
        "doc_id",
        "n_grams",
        F.coalesce("n_contaminated", F.lit(0)).alias("n_contaminated"),
        (F.coalesce("n_contaminated", F.lit(0)) > 0).alias("contaminated"),
    )


def cross_corpus_pairs(
    new: DataFrame, base: DataFrame, cfg: DedupConfig,
    threshold: float | None = None,
) -> DataFrame:
    """Dedupe a NEW corpus against an EXISTING one (the batch face of the
    streaming store join, streaming/incremental.py:236-266 — and the
    standard pretraining-data operation: flag a fresh crawl's docs that
    already exist, exactly or nearly, in the training set): one row per
    cross-corpus duplicate pair, (new_id, base_id, jaccard), jaccard >=
    threshold INCLUDING identical texts (jaccard 1.0) — unlike the
    within-corpus minhash_lsh_pairs, there is no separate exact stage to
    defer to, so exact hits belong in this listing.

    Dataflow (each piece the shared one):
    * exact hits: sha256 equi-join new x base — every holder pairs with
      every holder, jaccard 1.0, no shingle work;
    * near hits: rep-per-sha suppression on EACH side (giant identical
      groups cost O(group)), new-rep band rows joined against the base
      side's salted capped band buckets (capped_id_buckets — a hot band
      shared by m base and n new docs would otherwise fan out m*n rows
      unbounded; truncation metered via the logged drain), oriented
      candidates (a=new rep, b=base rep), confirm_pairs for the pruned
      exact-Jaccard confirm (excludes identical shas — those are the exact
      hits above), then member expansion per side.

    Output contract is SQL-expressible (exact Jaccard >= t across the two
    tables), so the driver checks it against the shingle-join oracle — same
    trick as minhash_lsh_pairs (band miss ~5e-8; zero at jaccard 1.0).

    SCALE CAVEAT — this is the LISTING face: its output is the declared
    O(|A| x |B|) per matching text group (measured 198M pairs on a planted
    1.6M-doc corpus with large identical groups split across the sides).
    The linear per-new-doc rollup a curation run should use at 100x is
    ``cross_corpus_matches`` below.
    """
    sn, sb, edges = _cross_corpus_edges(new, base, cfg, threshold)
    exact = (
        sn.select(F.col("sha256"), F.col("doc_id").alias("new_id"))
        .join(sb.select("sha256", F.col("doc_id").alias("base_id")), "sha256")
        .select("new_id", "base_id", F.lit(1.0).alias("jaccard"))
    )
    # oriented member expansion (a_sha = new side, b_sha = base side), each
    # member table semi-join-pruned to shas that carry a confirmed edge —
    # same discipline as _expand_exact_members, without its a<b reorder
    # (orientation IS the semantics here)
    mn = sn.select(F.col("sha256").alias("a_sha"), F.col("doc_id").alias("new_id"))
    mn = mn.join(edges.select("a_sha").distinct(), "a_sha", "left_semi")
    mb = sb.select(F.col("sha256").alias("b_sha"), F.col("doc_id").alias("base_id"))
    mb = mb.join(edges.select("b_sha").distinct(), "b_sha", "left_semi")
    near = (
        edges.join(mn, "a_sha").join(mb, "b_sha")
        .select("new_id", "base_id", "jaccard")
    )
    return exact.unionByName(near)


def cross_corpus_matches(
    new: DataFrame, base: DataFrame, cfg: DedupConfig,
    threshold: float | None = None,
) -> DataFrame:
    """LINEAR per-new-doc rollup of cross_corpus_pairs — the face a curation
    run uses at 100x: one row per NEW doc with at least one base match,
    (new_id, n_base_matches, max_jaccard), where n_base_matches counts the
    DISTINCT base docs at jaccard >= threshold (identical texts included at
    1.0). Output is bounded by |new|; nothing ever materializes the
    O(|A| x |B|) pair listing: exact matches aggregate through per-sha base
    group COUNTS, and near matches aggregate at the representative level
    (per (a_sha, b_sha) edge, weighted by the base group's size) before the
    single sha-keyed join back to new members. A base doc is counted once
    per new doc: its sha either equals the new doc's sha (exact) or pairs
    with it in at most one confirmed edge (near; confirm excludes equal
    shas). Same SQL-expressible contract as the listing, aggregated —
    driver-checked against the grouped shingle-join oracle.
    """
    sn, sb, edges = _cross_corpus_edges(new, base, cfg, threshold)
    base_counts = sb.groupBy("sha256").agg(F.count("*").alias("n_base"))
    exact_m = (
        sn.select("doc_id", "sha256")
        .join(base_counts, "sha256")
        .select(
            F.col("doc_id").alias("new_id"),
            F.col("n_base"),
            F.lit(1.0).alias("jac"),
        )
    )
    near_per_sha = (
        edges.join(
            base_counts.withColumnRenamed("sha256", "b_sha"), "b_sha"
        )
        .groupBy("a_sha")
        .agg(
            F.sum("n_base").alias("n_base"),
            F.max("jaccard").alias("jac"),
        )
    )
    near_m = (
        sn.select("doc_id", F.col("sha256").alias("a_sha"))
        .join(near_per_sha, "a_sha")
        .select(F.col("doc_id").alias("new_id"), "n_base", "jac")
    )
    return (
        exact_m.unionByName(near_m)
        .groupBy("new_id")
        .agg(
            F.sum("n_base").alias("n_base_matches"),
            F.max("jac").alias("max_jaccard"),
        )
    )


def _cross_corpus_edges(
    new: DataFrame, base: DataFrame, cfg: DedupConfig,
    threshold: float | None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared candidate/confirm machinery of the two cross-corpus faces:
    -> (sigs_new, sigs_base, rep_edges(a_sha, b_sha, jaccard)) with a_sha
    always the NEW side. See cross_corpus_pairs for the dataflow notes."""
    t = cfg if threshold is None else DedupConfig(
        **{**cfg.to_dict(), "min_similarity": threshold}
    )

    def sigs_of(df: DataFrame) -> DataFrame:
        return (
            df.select(
                F.col("doc_id"),
                F.col("doc_id").cast("string").alias("url"),
                F.sha2("text", 256).alias("sha256"),
                _sig_col(cfg).alias("sig"),
            )
            .select(
                "doc_id", "url", "sha256",
                F.col("sig.shingles").alias("shingles"),
                F.col("sig.simhash").alias("simhash"),
                F.col("sig.bands").alias("bands"),
            )
            .localCheckpoint(eager=False)
        )

    sn, sb = sigs_of(new), sigs_of(base)

    from replicheck_spark.operators.lsh import capped_id_buckets

    def reps(s: DataFrame) -> DataFrame:
        return s.groupBy("sha256").agg(
            F.min("doc_id").alias("doc_id"),
            F.first("bands").alias("bands"),  # identical within a sha group
        )

    new_bands = reps(sn).select(
        F.col("doc_id").alias("a"),
        F.posexplode("bands").alias("band_id", "band_hash"),
    )
    base_buckets = capped_id_buckets(
        reps(sb).select(
            "doc_id", F.posexplode("bands").alias("band_id", "band_hash")
        ).withColumn(
            "salt", F.pmod(F.xxhash64("doc_id"), F.lit(cfg.salt_buckets))
        ),
        ["band_id", "band_hash"], cfg.bucket_cap,
    ).localCheckpoint(eager=False)
    # bucket truncation is metered, never silent: the observe rides
    # DOWNSTREAM of the lazy checkpoint (upstream would resolve to zero
    # forever, see candidate_pairs) and flushes through the shared
    # non-blocking drain once the consuming action has run
    from pyspark.sql import Observation

    from replicheck_spark.operators.similarity import (
        _PENDING_OVERFLOW,
        drain_overflow_logs,
    )

    drain_overflow_logs()
    _obs = Observation()
    base_buckets = base_buckets.observe(
        _obs, F.coalesce(F.sum("overflow"), F.lit(0)).alias("overflow_total")
    )
    _PENDING_OVERFLOW.append((_obs, "cross_corpus.base_buckets"))
    cands = (
        new_bands.join(base_buckets, ["band_id", "band_hash"])
        .select("a", F.explode("ids").alias("b"))
        .dropDuplicates(["a", "b"])
    )
    # two-sided confirm: the corpora's doc_id spaces may OVERLAP (doc_id =
    # xxhash64(url); a re-crawled url has the same id on both sides), so
    # each candidate side must resolve against its OWN signature table — a
    # unioned lookup would cross-match overlapping ids (review r6 finding).
    edges = confirm_pairs(cands, sn, t, signatures_b=sb).select(
        "a_sha", "b_sha", "jaccard"
    ).localCheckpoint(eager=False)
    return sn, sb, edges


def simhash_pairs(docs: DataFrame, cfg: DedupConfig) -> DataFrame:
    """SimHash near-dup pairs: LSH candidates filtered by Hamming <=
    hamming_max: (a, b, hamming). Rows-only correctness check (SimHash is not
    SQL-expressible). Same single-evaluation (localCheckpoint) and
    member-expansion discipline as minhash_lsh_pairs."""
    sigs = docs.select(
        "doc_id",
        F.sha2("text", 256).alias("sha256"),
        _sig_col(cfg).alias("sig"),
    ).select(
        "doc_id", "sha256",
        F.col("sig.simhash").alias("simhash"),
        F.col("sig.bands").alias("bands"),
    ).localCheckpoint(eager=False)  # minhash column not needed for SimHash
    cands, _ = candidate_pairs(explode_bands(sigs, cfg), cfg)
    a = sigs.select(
        F.col("doc_id").alias("a"),
        F.col("simhash").alias("a_sim"),
        F.col("sha256").alias("a_sha"),
    )
    b = sigs.select(
        F.col("doc_id").alias("b"),
        F.col("simhash").alias("b_sim"),
        F.col("sha256").alias("b_sha"),
    )
    rep_edges = (
        cands.join(a, "a")
        .join(b, "b")
        .withColumn("hamming", F.bit_count(F.col("a_sim").bitwiseXOR(F.col("b_sim"))))
        .filter(F.col("hamming") <= cfg.hamming_max)
        .filter(F.col("a_sha") != F.col("b_sha"))
        .select("a_sha", "b_sha", "hamming")
    )
    return _expand_exact_members(
        rep_edges, sigs.select("doc_id", "sha256"), ["hamming"]
    )


def simhash_confirmed_pairs(
    docs: DataFrame, cfg: DedupConfig, threshold: float | None = None,
    hamming_prefilter: int = 28,
) -> DataFrame:
    """SimHash-prefiltered near-dup pairs with an exact-Jaccard confirm:
    (a, b, jaccard) — the SimHash family's DRIVER-CHECKABLE face.

    ``simhash_pairs`` above emits (a, b, hamming), which no SQL oracle can
    reproduce (SimHash is approximate by construction). This operator runs
    the SAME simhash machinery as a cheap Hamming PREFILTER (``bit_count
    (xor) <= hamming_prefilter`` — one codegen'd instruction per candidate,
    no shingle-array touch) and then confirms survivors with the exact
    shingle Jaccard at ``threshold``; the OUTPUT contract — exact Jaccard >=
    threshold among distinct-text pairs — is therefore SQL-expressible and
    checked against the same shingle-join oracle as minhash_lsh_pairs (the
    trick documented at __spark_entry__.py: the non-SQL machinery's miss
    probability is driven to negligible, so the exact-join oracle IS the
    expected output).

    Miss sources, both negligible at the defaults: the band-candidate stage
    (~5e-8 at jaccard 0.8, as minhash_lsh_pairs) and the Hamming prefilter —
    a jaccard-0.8 pair has token-set cosine ~2j/(1+j)=0.89 (theta~0.47 rad),
    so each of the 64 simhash bits flips with p = theta/pi ~ 0.15:
    hamming ~ Binomial(64, 0.15), mean 9.6, sd 2.9 — P(h > 28) < 1e-8
    (Chernoff), and empirically the fixture corpora max out at h <= 15 among
    confirmed pairs. Production callers trading recall for candidate volume
    tune ``hamming_prefilter`` down toward cfg.hamming_max.
    """
    from replicheck_spark.operators.confirm import _pair_ids

    t = cfg if threshold is None else DedupConfig(
        **{**cfg.to_dict(), "min_similarity": threshold}
    )
    sigs = (
        docs.select(
            F.col("doc_id"),
            F.col("doc_id").cast("string").alias("url"),
            F.sha2("text", 256).alias("sha256"),
            _sig_col(cfg).alias("sig"),
        )
        .select(
            "doc_id", "url", "sha256",
            F.col("sig.shingles").alias("shingles"),
            F.col("sig.simhash").alias("simhash"),
            F.col("sig.bands").alias("bands"),
        )
        .localCheckpoint(eager=False)
    )
    cands, _ = candidate_pairs(explode_bands(sigs, cfg), cfg)
    # The cheap prefilter FIRST, on the NARROW (doc_id, simhash) projection
    # semi-join-pruned to candidate ids (the same prune discipline as
    # confirm_pairs — never re-shuffle the full signature table, and never
    # touch the heavy shingle arrays for a candidate the prefilter kills):
    # one bit_count per candidate.
    sim = sigs.select("doc_id", "simhash").join(
        _pair_ids(cands), "doc_id", "left_semi"
    )
    pruned = (
        cands.join(
            sim.select(F.col("doc_id").alias("a"), F.col("simhash").alias("a_sim")),
            "a",
        )
        .join(
            sim.select(F.col("doc_id").alias("b"), F.col("simhash").alias("b_sim")),
            "b",
        )
        .filter(
            F.bit_count(F.col("a_sim").bitwiseXOR(F.col("b_sim")))
            <= hamming_prefilter
        )
        .select("a", "b")
    )
    # exact-Jaccard confirm = the ONE shared implementation (semi-join
    # prune, sha exclusion, threshold) — no second copy of its semantics
    edges = confirm_pairs(pruned, sigs, t)
    return _expand_exact_members(
        edges, sigs.select("doc_id", "sha256"), ["jaccard"]
    )
