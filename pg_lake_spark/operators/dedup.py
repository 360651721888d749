"""Deduplication operators: exact, n-gram Jaccard, MinHash + LSH.

Design for scale (the whole point — see AGENTS brief):
- Shingling and MinHash signatures are pure Column expressions
  (``transform``/``array_min`` over an in-row array) — no explode, no
  shuffle, no Python. A 100 TB corpus signs itself in one map stage.
- LSH banding turns near-dup search from O(n²) into groupBy(band-key):
  candidate pairs only form inside a bucket. The only shuffles are the
  band groupBys and the final candidate self-join on doc ids.
- Exact-Jaccard verification runs only on LSH candidates (tiny fraction
  of the cross product).

MinHash here is the classic k-mins variant over two hash families:

- ``minhash_signature``: h_i(doc) = min over shingles of md5(seed_i ‖
  shingle). md5 is deterministic and identically available in Spark,
  DuckDB (oracle), and any other engine — signatures are portable
  across the lakehouse.
- The LSH family (:data:`_MINHASH_FOLD`, :data:`_MINHASH_PRIME`,
  :func:`_minhash_perm_sql`): each shingle's xxhash64 folded to 32
  bits, then k affine permutations. Batch (``minhash_signature_agg``)
  and streaming (``minhash_signature_fold``) signing both build their
  terms from these definitions, so the two paths sign, bucket
  (:func:`_band_bucket_sql`) and verify (:func:`verify_candidate_pairs`)
  identically.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pg_lake_spark.plans.broadcast import broadcast_if_small

#: The LSH MinHash family: a shingle's xxhash64 is folded to 32 bits
#: (``pmod(xxhash64(s), _MINHASH_FOLD)``), then permuted by
#: h_i(x) = ((2i+1)·x + (7919i+1)) mod _MINHASH_PRIME.
_MINHASH_FOLD = 4294967296
#: Smallest prime > 2^32; a·x + b < 2^52 for every i used, so the
#: permutations never overflow a bigint.
_MINHASH_PRIME = 4294967311


def _minhash_fold_sql(shingle: str) -> str:
    """SQL: one shingle's 32-bit folded xxhash64 (the family's input)."""
    return f"cast(pmod(xxhash64({shingle}), {_MINHASH_FOLD}) as bigint)"


def _minhash_perm_sql(i: int, x: str) -> str:
    """SQL: the i-th affine permutation of a folded shingle hash ``x``."""
    return f"({2 * i + 1} * {x} + {7919 * i + 1}) % {_MINHASH_PRIME}"


def _band_bucket_sql(band: int, rows_per_band: int, component: str) -> str:
    """SQL: band ``band``'s LSH bucket as one bigint —
    ``xxhash64(band, c_lo, …, c_hi)`` over that band's signature
    components. ``component`` is a format string naming component
    ``{i}`` (``"l._h{i}"`` for batch signature columns, ``"_sig[{i}]"``
    for the streaming signature array); both are bigint, so a document
    gets the same bucket on either path.

    The one bucket key of batch banding, the batch first-match
    predicate and streaming state. Hashing the band in makes a bucket
    unique across bands, so streaming state needs no separate band key.
    Equal components always hash equal, so every pair the banding
    contract promises is found; a 64-bit collision can only ADD a
    candidate, which the exact-Jaccard verify then scores truthfully.
    """
    cols = ", ".join(
        component.format(i=i)
        for i in range(band * rows_per_band, (band + 1) * rows_per_band)
    )
    return f"xxhash64({band}, {cols})"


def _cap_buckets(
    banded: DataFrame,
    cap: int | None,
    id_col: str = "_id",
    n_rows: int | None = None,
) -> tuple[DataFrame, bool]:
    """Sub-sample any (band, bucket) group wider than ``cap`` down to
    its ``cap`` smallest ids (deterministic).

    Standard LSH hygiene: a degenerate mega-bucket — e.g. millions of
    empty or boilerplate-identical documents landing in one bucket —
    makes the in-bucket self-join quadratic in that bucket's width,
    which is the one way banded LSH degrades to O(N²) at 100 TB. The
    cap bounds every bucket's join cost at cap² while keeping a
    deterministic representative sample, so near-dup links among the
    kept rows (and every pair in normal-width buckets) survive.
    Identical documents are exact-dedup's job (dedup_exact), not LSH's.

    Width probe (r8, single-pass since r9): ONE map-side-combined count
    aggregation over (band, bucket) keys decides whether ANY bucket
    exceeds the cap; when none does (the normal case — mega-buckets
    mean identical boilerplate, which exact dedup removes upstream),
    the banded frame is returned untouched and the self-join plan is
    exactly the uncapped shape — no per-bucket sort at all. Only a
    degenerate corpus pays the window. Callers hold the signature frame
    behind a localCheckpoint, so the probe re-reads materialized
    blocks, not the signing stage. r9: callers no longer pre-count the
    corpus — the probe is the only extra job on any input (r8 paid
    count + probe for corpora over the cap), and the bucket widths are
    computed exactly once. This keeps the O(cap²) bound the cap exists
    for without the r7 always-on window (dd_simhash_pairs 1.34×).

    When the window does run, it partitions on the same (band, bucket)
    keys the self-join shuffles on, so the exchange is shared — the cap
    adds a sort within each bucket, not an extra shuffle.
    """
    if cap is None:
        return banded, False
    # A bucket can never be wider than the corpus: when the caller
    # already knows a row-count bound for free and it is within the
    # cap, skip even the probe. (Callers should NOT run a count job
    # just to pass this — the probe below is itself one job; parquet
    # footer row counts, which the query layer has for free, are the
    # intended source.)
    if n_rows is not None and n_rows <= cap:
        return banded, False
    row = (
        banded.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("__w"))
        .agg(F.max("__w").alias("m"))
        .first()
    )
    if row is None or row["m"] is None or row["m"] <= cap:
        return banded, False
    w = Window.partitionBy("band", "bucket").orderBy(id_col)
    return (
        banded.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= cap)
        .drop("__rn")
    ), True


def word_shingles(text: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles of a text column as array<string> (distinct).

    Documents shorter than ``n`` words yield a single shingle of the
    whole text so every doc has a non-empty shingle set.

    When ``text`` is a column NAME the expression is built as one SQL
    string (single py4j call) — the Column-algebra form costs ~15
    driver round-trips per use (see the expr-string note in
    simhash64_agg) — and uses nested ``zip_with`` over pre-shifted
    slices instead of a ``transform(sequence, i -> slice(...))``
    lambda: the slices are evaluated once per ROW, while the transform
    lambda re-evaluated ``slice(split(...))`` per ELEMENT — quadratic
    in document length (measured 2.7× at sf1 for bigrams, worse for
    longer docs). Output is identical (pinned by the oracle rows).
    """
    if isinstance(text, str):
        return F.expr(_shingles_sql(text, n))
    words = F.split(text, r"\s+")
    k = F.size(words) - (n - 1)
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(k, F.lit(1)) - 1),
        lambda i: F.array_join(F.slice(words, i + 1, n), " "),
    )
    return F.array_distinct(grams)


def _shingles_sql(text_col_name: str, n: int) -> str:
    """SQL string of :func:`word_shingles` over a named column."""
    return f"array_distinct({_windows_expr(text_col_name, n)})"


def _windows_expr(text_col_name: str, n: int) -> str:
    """SQL expr string: ALL overlapping word n-gram windows of a text
    column (array<string>, order-preserving, duplicates kept).

    The split array is bound ONCE as a lambda variable —
    ``transform(array(split(..)), ws -> ..)`` — because higher-order
    expressions are interpreted with no common-subexpression
    elimination: spelled inline, the split (a regex scan of the whole
    document) re-evaluated once per slice reference, ~n+2 times per
    row (r16 opt; measured 2.5s -> 0.7s at n=8 over the sf0.1 corpus,
    output exceptAll-identical at n=2/3/8).

    Two window builds over the bound array, chosen by n:
    - n <= 3: zip_with over pre-shifted slices — one pass per extra
      gram word; wins while the pass count is small.
    - n >= 4: transform(sequence, i -> array_join(slice(ws, i, n))) —
      one slice+join per window beats n-1 full concat passes (the old
      quadratic-in-doc-length caveat applied to re-evaluating split
      per element, which the hoisted ws cannot do).
    Both yield the same rows: for docs with fewer than n words the
    single window is all words space-joined (zip_with's NULL padding
    keeps the partial concat; array_join of the short slice joins the
    same words)."""
    if "`" in text_col_name:
        raise ValueError(
            f"column name may not contain backticks: {text_col_name!r}"
        )
    # Backtick-quote: the name is interpolated into a SQL string, so a
    # non-bare identifier (spaces, hyphens, keywords) would misparse —
    # and an unquoted name is string-injectable.
    w = f"split(`{text_col_name}`, '\\\\s+')"
    if n <= 3:
        length = f"greatest(size(ws) - {n - 1}, 1)"
        acc = f"slice(ws, 1, {length})"
        for k in range(2, n + 1):
            # zip_with pads the shorter array with NULL: docs with
            # fewer than n words keep their whole-text window
            acc = (
                f"zip_with({acc}, slice(ws, {k}, {length}), "
                f"(a, b) -> if(b is null, a, concat(a, ' ', b)))"
            )
    else:
        acc = (
            f"transform(sequence(1, greatest(size(ws) - {n - 1}, 1)), "
            f"i -> array_join(slice(ws, i, {n}), ' '))"
        )
    return f"element_at(transform(array({w}), ws -> {acc}), 1)"


def repeated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    window: int = 8,
    min_docs: int = 2,
    hash_only: bool = True,
) -> DataFrame:
    """Cross-document repeated word spans — the exact-substring dedup
    signal (Lee et al., *Deduplicating Training Data Makes Language
    Models Better*: verbatim ≥k-token spans repeated across a corpus
    are memorization fuel and should be deduplicated). Reference
    parity: pg_lake has no span operator; this is part of the
    beyond-reference training-pipeline surface.

    Every overlapping ``window``-word span of every document is
    emitted (positions preserved, duplicates kept — unlike shingles),
    grouped corpus-wide, and spans appearing in at least ``min_docs``
    distinct documents are returned with their document and occurrence
    counts.

    Scale: output of the explode is O(total corpus tokens) rows —
    linear, one shuffle. With ``hash_only=True`` (the 100-TB path) the
    groupBy key is the span's xxhash64, so the shuffle carries 8-byte
    keys instead of span strings (~10-100 bytes/token saved); the
    returned ``span`` column is then the hash rendered as hex. With
    ``hash_only=False`` the span text itself is the key (exact,
    oracle-friendly; pays string shuffle width).

    Returns (span, n_docs, n_occ) sorted by (n_occ desc, span).
    """
    from pyspark.sql.window import Window as W

    # Window GENERATION via posexplode + lead(), not the zip_with
    # array chain: zip_with is an interpreted higher-order lambda and
    # n-1 chained passes cost ~23 µs/doc at window=8 (measured 11.4 s
    # vs 2.5 s at sf1 for the same 2.4M spans). lead() is a codegen'd
    # window function; the (doc, pos) sort it needs is a local sort
    # after one token-stream shuffle — the same magnitude the
    # span-groupBy shuffle pays anyway. Docs shorter than ``window``
    # contribute their whole (whitespace-normalized) text, same
    # convention as word_shingles. Strip edge whitespace first:
    # leading/trailing whitespace would otherwise yield empty tokens
    # that join into spans with doubled/leading spaces, diverging from
    # the oracle's trimmed normalization on non-clean corpora. regexp
    # (codegen'd), not F.trim — trim() strips only 0x20, not \n/\t.
    words = F.split(
        F.regexp_replace(F.col(text_col), r"^\s+|\s+$", ""), r"\s+"
    )
    base = df.select(F.col(id_col).alias("_id"), words.alias("_w"))
    tok = base.filter(F.size("_w") >= window).select(
        "_id", F.posexplode("_w").alias("_pos", "_t")
    )
    win = W.partitionBy("_id").orderBy("_pos")
    leads = [F.col("_t")] + [F.lead("_t", k).over(win) for k in range(1, window)]
    long_spans = (
        tok.select(
            "_id",
            F.concat_ws(" ", *leads).alias("_span"),
            F.lead("_t", window - 1).over(win).alias("_end"),
        )
        .filter(F.col("_end").isNotNull())
        .select("_id", "_span")
    )
    short_spans = base.filter(F.size("_w") < window).select(
        "_id", F.array_join("_w", " ").alias("_span")
    )
    wins = long_spans.unionByName(short_spans)
    if hash_only:
        # Group on the raw BIGINT hash (8-byte shuffle keys — the whole
        # point of hash_only); render to hex only on the tiny grouped
        # output. hex(bigint) here equals hex() of the pre-group hash,
        # so output and ordering are identical to grouping on the text.
        wins = wins.select("_id", F.xxhash64("_span").alias("_span"))
    grouped = (
        wins.groupBy(F.col("_span").alias("span"))
        .agg(
            F.countDistinct("_id").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occ"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )
    if hash_only:
        grouped = grouped.withColumn("span", F.hex("span"))
    return grouped.orderBy(F.col("n_occ").desc(), "span")


def maximal_repeated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    window: int = 8,
    min_docs: int = 2,
    hash_only: bool = True,
) -> DataFrame:
    """Merge overlapping repeated windows into MAXIMAL repeated
    substrings — the actual Lee et al. suffix-array output shape
    (``repeated_spans`` reports the fixed-width windows; this
    collapses runs of adjacent repeated windows into one maximal
    span per document). Reference parity: beyond-reference
    training-pipeline surface, like ``repeated_spans``.

    A position p in a document is HOT when its ``window``-word span
    occurs in >= ``min_docs`` distinct documents. Consecutive hot
    positions p..p+m form an island; the maximal repeated substring
    is tokens[p .. p+m+window-1]. Island detection is the classic
    gaps-and-islands construct (pos - row_number), entirely
    codegen'd window functions over the per-document frame.

    Docs shorter than ``window`` tokens are excluded (no full
    window exists — the Lee et al. convention for >=k-token spans).

    Scale: three shuffles — the (doc, pos) token sort (shared by
    window generation AND island detection: both partition by doc),
    the corpus-wide span group, and the semi-join back. With
    ``hash_only=True`` (default, the 100-TB path) the span group +
    semi-join carry 8-byte xxhash64 keys; unlike ``repeated_spans``
    this is LOSSLESS here because the output text is rebuilt from
    the tokens, not the key (a collision could only falsely mark a
    window hot — ~2^-64 per pair).

    Returns (id_col, start_tok, end_tok, n_tokens, span) with
    1-based inclusive token positions, sorted by (id, start_tok).
    """
    from pyspark.sql.window import Window as W

    words = F.split(
        F.regexp_replace(F.col(text_col), r"^\s+|\s+$", ""), r"\s+"
    )
    base = df.select(F.col(id_col).alias("_id"), words.alias("_w")).filter(
        F.size("_w") >= window
    )
    tok = base.select("_id", F.posexplode("_w").alias("_pos", "_t"))
    win = W.partitionBy("_id").orderBy("_pos")
    # Carry the window's tokens as COLUMNS; build a span STRING only
    # where one is actually needed (r16 opt, guide §2.2 — shuffle
    # fewer bytes): on the hash path the group key hashes the token
    # TUPLE directly (tokens are space-free — split on \s+ — so tuple
    # equality is exactly joined-string equality, and the key never
    # reaches the output: the span text is rebuilt from tokens),
    # skipping an O(window) string build per corpus position. The
    # string path keeps the joined span as its oracle-friendly key.
    # A/B noop at sf0.1 (window=8): 3.12s -> 2.23s min, rows equal.
    tail_parts = [f"_l{k}" for k in range(1, window)]
    wins = tok.select(
        "_id",
        "_pos",
        "_t",
        *[F.lead("_t", k).over(win).alias(f"_l{k}") for k in range(1, window)],
    )
    if window > 1:
        wins = wins.filter(F.col(f"_l{window - 1}").isNotNull())
    if hash_only:
        key = F.xxhash64("_t", *tail_parts)
    else:
        key = F.concat_ws(" ", "_t", *tail_parts)
    # Materialize the window frame ONCE (r16 opt): it feeds BOTH the
    # hot-key aggregate and the semi join's probe side, and without
    # this the posexplode + (doc,pos) shuffle + sort + window-lead
    # subtree executes twice — the plan showed two full copies of
    # nodes Generate/Exchange/Sort/Window. The checkpoint preserves
    # the _id partitioning/ordering, so the island-detection window
    # downstream still runs without a new exchange.
    wins = wins.withColumn("_k", key).localCheckpoint(eager=True)
    hot_keys = (
        wins.groupBy("_k")
        .agg(F.countDistinct("_id").alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("_k")
    )
    # span minus its first token: the island's last row supplies the
    # window tail beyond the per-position head tokens
    hot = (
        wins.join(hot_keys, "_k", "left_semi")
        .withColumn(
            "_tail",
            F.concat_ws(" ", *tail_parts) if window > 1 else F.lit(""),
        )
        .drop(*tail_parts)
        .withColumn(
            "_grp",
            F.col("_pos")
            - F.row_number().over(W.partitionBy("_id").orderBy("_pos")),
        )
    )
    heads = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("_pos", "_t"))),
            lambda st: st["_t"],
        ),
        " ",
    )
    islands = hot.groupBy("_id", "_grp").agg(
        (F.min("_pos") + 1).cast("bigint").alias("start_tok"),
        (F.max("_pos") + window).cast("bigint").alias("end_tok"),
        heads.alias("_heads"),
        F.max_by("_tail", "_pos").alias("_last_tail"),
    )
    span = (
        F.concat_ws(" ", F.col("_heads"), F.col("_last_tail"))
        if window > 1
        else F.col("_heads")
    )
    return (
        islands.select(
            F.col("_id").alias(id_col),
            "start_tok",
            "end_tok",
            (F.col("end_tok") - F.col("start_tok") + 1)
            .cast("bigint")
            .alias("n_tokens"),
            span.alias("span"),
        )
        .orderBy(id_col, "start_tok")
    )


def minhash_signature(shingles: Column, num_hashes: int = 8) -> Column:
    """MinHash signature: array of ``num_hashes`` hex-string minima.

    Seeded family: h_i(s) = md5(concat('seed<i>:', s)); the minimum over
    the shingle set is order-invariant, so this is a pure expression —
    no aggregation needed. This is the DuckDB-computable family (the
    oracle of ``dd_minhash_signatures`` recomputes it); LSH uses the
    cheaper xxhash64 family below.
    """
    def hasher(seed: int):
        prefix = F.lit(f"seed{seed}:")
        # single-arg lambda: a two-arg lambda would be interpreted by
        # transform() as (element, index) and clobber the seed
        return lambda s: F.md5(F.concat(prefix, s))

    sigs = [F.array_min(F.transform(shingles, hasher(i))) for i in range(num_hashes)]
    return F.array(*sigs)


def minhash_signature_agg(
    df: DataFrame, id_col: str, text_col: str, *, shingle_n: int = 3, num_hashes: int = 12
) -> DataFrame:
    """LSH MinHash signatures via explode + min-aggregate: (_id, _h0.._hk).

    The batch spelling of the LSH family (``_minhash_fold_sql`` /
    ``_minhash_perm_sql``); :func:`minhash_signature_fold` is the
    streaming spelling and computes the same values. Batch keeps this
    one because it is cheaper here: explode + groupBy measured 2.34 s
    median process-tree CPU against 2.84 s for the fold (5,000 docs,
    ``local[4]``, 10 alternating pairs, noop sink; the fold won 0 of
    10, flat at 500 docs, outputs identical). Each shingle is hashed
    once and min() combines map-side, so the shuffle carries only
    num_hashes values per doc. NULL or shingle-less text yields no row.
    """
    base = df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_t"))
    # The hash fan-out is CPU-bound; if the source has fewer input files
    # than cores (single-row-group files, small tables), spread it. The
    # pre-explode shuffle moves only (id, text) — cheap relative to the
    # hash work it parallelizes; skipped when the scan is already wide.
    # inputFiles() is driver-side file-listing metadata — unlike
    # df.rdd.getNumPartitions() it does not force an RDD conversion of
    # the whole plan. Non-file sources report 0 files → repartition.
    par = df.sparkSession.sparkContext.defaultParallelism
    if len(df.inputFiles()) < par:
        base = base.repartition(par, "_id")
    ex = base.select("_id", F.explode(word_shingles("_t", shingle_n)).alias("_s"))
    # One xxhash64 per shingle (JVM-native, no string materialization —
    # measured ~2x faster than the md5→hex→conv chain), then k cheap
    # codegen'd integer permutations instead of k digests.
    # (An r8 A/B tried hashing the n word columns directly inside the
    # array transform to skip the join+distinct — 1.4x SLOWER: the
    # per-element lambda interprets n element_at calls and the lost
    # dedup inflates the explode; the string path stays.)
    ex = ex.select("_id", F.expr(_minhash_fold_sql("_s")).alias("_h"))
    # expr strings, not Column algebra — one py4j call per agg instead
    # of ~6 (see the expr-string note in simhash64_agg)
    aggs = [
        F.expr(f"min({_minhash_perm_sql(i, '_h')})").alias(f"_h{i}")
        for i in range(num_hashes)
    ]
    return ex.groupBy("_id").agg(*aggs)


def minhash_signature_fold(text_col: str, shingle_n: int, num_hashes: int) -> Column:
    """LSH MinHash signature of a named text column as one map-only
    expression: array<bigint> of ``num_hashes`` values, equal to
    :func:`minhash_signature_agg`'s ``_h0.._hk`` for the same text.

    The streaming spelling: with no aggregation it is the only one that
    runs on an unbounded stream. Each shingle is hashed once and a
    single ``aggregate`` fold carries the running elementwise minimum
    of the k permutations (the per-hash ``array_min(transform(...))``
    form re-hashed the shingle array once per hash, since higher-order
    lambdas sit outside common-subexpression elimination: 5.2 s →
    1.4 s over the sf0.1 corpus). Callers drop shingle-less text first
    (the batch explode produces no row for it).
    """
    hashed = f"transform({_shingles_sql(text_col, shingle_n)}, s -> {_minhash_fold_sql('s')})"
    init = ", ".join([str(_MINHASH_PRIME)] * num_hashes)
    perms = ", ".join(_minhash_perm_sql(i, "h") for i in range(num_hashes))
    return F.expr(
        f"aggregate({hashed}, array({init}), "
        f"(acc, h) -> zip_with(acc, array({perms}), (a, b) -> least(a, b)))"
    )


def _auto_est_gate(threshold: float, num_hashes: int, bands: int) -> float:
    """The ``est_gate="auto"`` derivation (see lsh_candidate_pairs):
    the banding S-curve's 50%-recall similarity, floored by the exact
    threshold, minus two signature components of estimator slack.
    Shared by the batch and streaming pipelines (r17) so the two gates
    cannot drift — the streaming row's oracle transfers from the batch
    row precisely because both drop the SAME pairs."""
    rows_per_band = num_hashes // bands
    s50 = (1.0 - 0.5 ** (1.0 / bands)) ** (1.0 / rows_per_band)
    return max(threshold, s50) - 2.0 / num_hashes


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard similarity of two array columns (set semantics:
    duplicates within an input carry no extra weight — the public
    contract, restored per r16 ADVICE after the size-identity rewrite
    silently required distinct inputs). Internal hot paths that already
    hold distinct arrays call :func:`_jaccard_distinct` directly."""
    return _jaccard_distinct(F.array_distinct(a), F.array_distinct(b))


def _jaccard_distinct(a: Column, b: Column) -> Column:
    """Jaccard via the size identity |a ∪ b| = |a| + |b| − |a ∩ b|.

    PRECONDITION: each input array is internally distinct (every call
    site passes ``array_distinct`` output — word_shingles ends with it,
    and the hashed verify paths hash those distinct elements). Skipping
    the ``array_union`` allocation halves the per-pair array work (r16
    opt — the verify stage runs this once per candidate pair): integer
    sizes and one double division, bit-identical to the union form."""
    i = F.size(F.array_intersect(a, b))
    return i.cast("double") / (F.size(a) + F.size(b) - i)


def exact_duplicates(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup via content-hash groupBy.

    Returns one row per duplicated content hash with the member count and
    the canonical (minimum) id — the survivor a dedup pass would keep.
    Scale: a single hash-partitioned aggregation; the md5 prevents
    shuffling full document bodies.
    """
    return (
        df.select(F.col(id_col), F.md5(F.col(text_col)).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.count(F.lit(1)).alias("n_copies"), F.min(id_col).alias("keep_id"))
        .filter(F.col("n_copies") > 1)
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_n: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    threshold: float = 0.5,
    max_bucket_size: int | None = 5000,
    est_gate: float | str | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs, exact-Jaccard verified.

    ``max_bucket_size`` caps any band bucket at that many (smallest-id)
    members before the self-join — see :func:`_cap_buckets`; None
    disables. ``n_rows`` (optional) is a caller-known exact corpus row
    count (e.g. from parquet footer metadata) that lets the cap skip
    its width-probe job when ``n_rows <= max_bucket_size``.

    ``est_gate`` (r8): minimum MinHash-ESTIMATED Jaccard — the fraction
    of agreeing signature components, the textbook unbiased estimator —
    a candidate pair must clear before the (expensive) exact
    shingle-verify runs. Candidates that share only their one colliding
    band sit at est ≈ rows_per_band/num_hashes plus noise, while any
    pair the banding was designed to catch (s ≥ the banding S-curve's
    midpoint) almost surely agrees on several more components, so the
    gate discards the dominant false-candidate mass without touching
    recall beyond what banding already gives up. ``"auto"`` derives the
    gate from the banding curve itself: the 50 %-recall similarity
    s50 = (1-(1-1/2)^(1/bands))^(bands/num_hashes), floored by
    ``threshold``, minus a 2/num_hashes slack (two components of
    estimator noise). A pair at s50 fails the auto gate with
    probability far below the ~50 % the banding itself already drops
    there, so the gate is recall-neutral relative to the LSH contract.
    The default is ``None`` (verify every candidate — the pure
    candidates-then-exact-verify contract, r9 per advisor review): the
    gate is OPT-IN because a noisy-low estimate can drop a candidate
    whose exact Jaccard clears ``threshold`` when the threshold sits
    well below the banding midpoint. Callers chasing verify cost at
    scale pass ``"auto"`` (or a float); recall-neutrality on a given
    corpus is measurable — see tests/test_dedup_gate.py, which pins
    false-drop = 0 for the bench corpus at the auto gate.

    Default banding is 3 rows/band (12 hashes, 4 bands): P(candidate) =
    1-(1-s^3)^4 keeps pairs at s ≥ 0.75 with ~90%+ probability while
    pruning low-similarity false candidates ~8× harder than 2 rows/band
    (measured 111k → 14k candidates on the 5k-doc corpus, same final
    pairs — real near-dups sit at jaccard ≥ 0.8).

    Pipeline: shingle → sign (:func:`minhash_signature_agg`, the batch
    spelling of the one LSH hash family) → explode bands → self-join
    inside (band, bucket) groups (shuffle #1, the bigint
    :func:`_band_bucket_sql` key) with first-match dedup + estimate gate
    as in-join predicates → :func:`verify_candidate_pairs` (exact
    Jaccard on candidate docs only, shuffle #2, ids only) → filter ≥
    threshold. The streaming pipeline (``streaming/neardup.py``) signs
    with the map-only fold spelling of the same family, buckets with
    the same helper, applies the same gate and verifies through the
    same function, so both emit the same pairs.

    Output: (id_a, id_b, jaccard) with id_a < id_b.
    """
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must divide evenly into bands "
            f"({bands}): leftover signature components would be silently "
            "excluded from banding, changing the recall curve from the "
            "documented 1-(1-s^r)^b"
        )
    rows_per_band = num_hashes // bands
    # One signing pass over the corpus (explode + min-agg; see
    # minhash_signature_agg for why not the pure-expression form);
    # shingle arrays are NOT kept — they are recomputed later only for
    # candidate docs (a tiny fraction of the corpus at scale). The
    # signature frame (num_hashes ints/doc) is checkpointed because it
    # now feeds the banding, the bucket-cap width split AND both legs
    # of the estimate gate — without the barrier the signing
    # aggregation would re-run once per reference.
    sigs = minhash_signature_agg(
        df, id_col, text_col, shingle_n=shingle_n, num_hashes=num_hashes
    ).localCheckpoint(eager=True)

    # Bucket key = _band_bucket_sql: an 8-byte bigint shuffle key (¼
    # the key bytes of an md5 hex string through the banding exchange,
    # and a far cheaper hash; r16, guide §2.3).
    #
    # The full signature rides along through the banding (12 bigints —
    # still tiny next to the text the signing stage dropped) so that
    # BOTH the estimate gate and pair-dedup run INSIDE the self-join as
    # plain codegen'd predicates (r16 restructure): previously the pair
    # set went through a distinct() exchange and then re-joined the
    # signature frame twice to compute the gate — three shuffles and a
    # barrier that this plan no longer contains. Same design as
    # simhash_pairs, which always carried its fingerprint words inline.
    band_structs = ", ".join(
        f"struct({b} as band, {_band_bucket_sql(b, rows_per_band, '_h{i}')} as bucket)"
        for b in range(bands)
    )
    banded = sigs.select(
        "_id",
        *[f"_h{i}" for i in range(num_hashes)],
        F.expr(f"explode(array({band_structs}))").alias("bb"),
    ).select("_id", *[f"_h{i}" for i in range(num_hashes)], "bb.band", "bb.bucket")

    banded, capped = _cap_buckets(banded, max_bucket_size, n_rows=n_rows)
    left = banded.alias("l")
    right = banded.alias("r")
    # In-bucket self-join for pairs. (An in-array combination expansion
    # per collected bucket was tried in r7 and is ~25% faster on
    # narrow-bucket configs but SLOWER at this query's real parameters:
    # wide buckets concentrate the O(w^2) expansion into one task,
    # while the join spreads pairs across partitions.)
    cond = (
        (F.col("l.band") == F.col("r.band"))
        & (F.col("l.bucket") == F.col("r.bucket"))
        & (F.col("l._id") < F.col("r._id"))
    )
    if not capped:
        # First-match dedup (replaces distinct()): emit a pair only from
        # its FIRST bucket-agreeing band — for every earlier band the
        # recomputed bucket keys must differ. Exactly-once emission
        # without shuffling the pair set, sound because bucket keys are
        # pure functions of the carried signature components; with a
        # capped bucket a pair can agree on an earlier band yet not
        # co-occur in it, so the capped path keeps the distinct().
        for b in range(1, bands):
            earlier = " OR ".join(
                f"({_band_bucket_sql(bp, rows_per_band, 'l._h{i}')}"
                f" = {_band_bucket_sql(bp, rows_per_band, 'r._h{i}')})"
                for bp in range(b)
            )
            cond = cond & ~((F.col("l.band") == b) & F.expr(earlier))

    # Estimate gate (see docstring), applied inside the join output as
    # a predicate over the carried components; a gate <= 0 is no gate.
    if est_gate == "auto":
        est_gate = _auto_est_gate(threshold, num_hashes, bands)
    cand = left.join(right, cond).select(
        F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"),
        F.expr(
            " + ".join(f"cast(l._h{i} = r._h{i} as int)" for i in range(num_hashes))
        ).alias("__agree"),
    )
    if est_gate is not None and est_gate > 0:
        cand = cand.filter(F.col("__agree") >= F.lit(est_gate * num_hashes))
    cand = cand.select("id_a", "id_b")
    if capped:
        cand = cand.distinct()
    # The (gated) pair set is referenced THREE times by the verify stage
    # (verify join plus both legs of its candidate ids); candidate pairs
    # are tiny relative to the corpus (2 ids/row), and relying on
    # ReusedExchange to dedupe the banding stage is fragile across Spark
    # versions — the exact failure mode behind r2's simhash 2.7×
    # regression. An eager localCheckpoint materializes the bounded pair
    # set once; blocks free when the result is dereferenced (no
    # session-lifetime cache leak, unlike persist()).
    cand = cand.localCheckpoint(eager=True)
    return verify_candidate_pairs(
        df, id_col, text_col, cand, shingle_n=shingle_n, threshold=threshold
    )


def verify_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    cand: DataFrame,
    *,
    shingle_n: int,
    threshold: float,
) -> DataFrame:
    """Exact-Jaccard verify of LSH candidate pairs ``cand`` (id_a, id_b):
    the one verify stage of the batch (:func:`lsh_candidate_pairs`) and
    streaming (``st_stream_lsh_neardup``) pipelines.

    Returns (id_a, id_b, jaccard) for the pairs whose word-shingle
    Jaccard over ``df``'s ``text_col`` is >= ``threshold``.
    """
    # Shingle ONLY candidate docs (semi-join pushfilter): shingling is
    # an interpreted higher-order expression — the most expensive step
    # per row — so restricting it to candidates is the main saving at
    # scale (and locally: full-corpus shingling measured ~3.5 s vs
    # milliseconds for the candidate subset). The checkpoint
    # materializes the (tiny) candidate shingle set once — both verify
    # legs reference it, and without the barrier each leg re-runs the
    # corpus scan + semi-join + shingling (A/B: 2.43 s → 1.94 s at
    # sf0.1).
    # The candidate ids scale with duplicate mass (unbounded at 100 TB),
    # so the semi-join is hinted only when Catalyst sizes them under the
    # broadcast gate: a drained stream (memory-sink rows, KB estimates)
    # is broadcast, a localCheckpoint (no row statistics, GB estimates)
    # is left to AQE.
    cand_ids = (
        cand.select(F.col("id_a").alias(id_col))
        .union(cand.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    needed = df.join(broadcast_if_small(cand_ids), id_col, "left_semi")
    # Spread the shingling across all cores: the semi-join output
    # inherits the (AQE-coalesced, often tiny) join partitioning, which
    # serializes the interpreted transform lambda onto a few tasks —
    # measured 12 s → 3 s at sf1 (the join had left 8 partitions; the
    # source parquet itself has 2). The repartition shuffles only
    # (id, text) for candidate docs — cheap against the lambda work it
    # parallelizes.
    # Verify on 64-bit shingle HASHES, not shingle strings: the
    # intersect/union per pair then compares fixed-width ints instead
    # of hashing ~100 strings per pair (measured 2.7 s → 1.0 s at sf1,
    # identical output). Exactness is preserved: xxhash64 collides
    # within one pair's ~|A|+|B| shingles with probability ≈
    # |A|·|B|/2^64 (~1e-16 per pair) — far below any engine's
    # reproducibility noise. array_distinct already ran on the strings,
    # so hash-set semantics match string-set semantics.
    # Width stays at defaultParallelism DELIBERATELY (r16 opt round
    # ruled out a candidate-count-derived width after measurement:
    # ~1k-docs-per-task sizing collapsed the interpreted shingling —
    # the dominant per-row cost — onto a few tasks and ~doubled
    # dd_neardup_clusters; the exchange it would save is tiny, the
    # parallelism it costs is not).
    par = df.sparkSession.sparkContext.defaultParallelism
    shingled = (
        needed.repartition(par, id_col)
        .select(F.col(id_col).alias("_id"), word_shingles(text_col, shingle_n).alias("_sh"))
        .select("_id", F.expr("transform(_sh, s -> xxhash64(s))").alias("_sh"))
        .localCheckpoint(eager=True)
    )
    a = shingled.select(F.col("_id").alias("id_a"), F.col("_sh").alias("sh_a"))
    b = shingled.select(F.col("_id").alias("id_b"), F.col("_sh").alias("sh_b"))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", _jaccard_distinct(F.col("sh_a"), F.col("sh_b")).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact all-pairs n-gram Jaccard (the small-data oracle path).

    O(n²) self-join — correctness baseline for LSH, usable on bounded
    subsets only. At scale, use :func:`lsh_candidate_pairs`.
    """
    base = df.select(F.col(id_col).alias("_id"), word_shingles(text_col, shingle_n).alias("_sh"))
    a = base.select(F.col("_id").alias("id_a"), F.col("_sh").alias("sh_a"))
    b = base.select(F.col("_id").alias("id_b"), F.col("_sh").alias("sh_b"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", _jaccard_distinct(F.col("sh_a"), F.col("sh_b")).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash_agg(
    df: DataFrame, id_col: str, text_col: str, *, shingle_n: int = 2, bits: int = 32
) -> DataFrame:
    """Per-document SimHash over word shingles → (_id, simhash bigint).

    Classic Charikar construction: each shingle contributes +1/-1 to every
    bit position according to its hash's bit; the sign of the per-bit sum
    is the fingerprint bit. Near-duplicate docs differ in few bits, so
    Hamming distance ≈ dissimilarity.

    Scale: explode + one hash-partitioned aggregation (the per-bit sign
    sums combine map-side); the shuffle carries ``bits`` ints per doc.
    The base hash is the first 8 hex chars of md5 — deterministic and
    engine-portable (same value computable in DuckDB/any SQL engine).
    """
    base = df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_t"))
    ex = base.select("_id", F.explode(word_shingles("_t", shingle_n)).alias("_s"))
    ex = ex.select(
        "_id", F.expr("cast(conv(substring(md5(_s), 1, 8), 16, 10) as bigint)").alias("_h")
    )
    # branchless SWAR tally: sign(sum ±1 per bit) == (2*sum(bit) > n),
    # two bit positions (j, j+half) per bigint accumulator — see
    # simhash64_agg for the lane layout and the expr-string rationale
    assert bits % 2 == 0 and bits <= 32
    half = bits // 2
    aggs = [
        F.expr(
            f"sum((shiftright(_h, {j}) & 1) + shiftleft(shiftright(_h, {j + half}) & 1, 32))"
        ).alias(f"_b{j}")
        for j in range(half)
    ] + [F.count(F.lit(1)).alias("_n")]
    per_bit = ex.groupBy("_id").agg(*aggs)
    terms = []
    for j in range(half):
        terms.append(f"if(2 * (_b{j} & 4294967295) > _n, {1 << j}, 0)")
        terms.append(f"if(2 * shiftright(_b{j}, 32) > _n, {1 << (j + half)}, 0)")
    simhash = "cast(" + " + ".join(terms) + " as bigint)"
    return per_bit.select("_id", F.expr(simhash).alias("simhash"))


def hamming(a: Column, b: Column) -> Column:
    """Hamming distance between two integer fingerprints."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash64_agg(
    df: DataFrame, id_col: str, text_col: str, *, shingle_n: int = 2
) -> DataFrame:
    """64-bit SimHash as TWO 32-bit words → (_id, sim_a, sim_b).

    The wider fingerprint exists for banding (see :func:`simhash_pairs`):
    16-bit bands need 64 bits to keep 4 bands. It is held as two 32-bit
    words — never materialized as one int64 — because the base hash is
    the two md5 halves and both engines (Spark, DuckDB oracle) can do
    all of the arithmetic below 2^32 without signed-overflow divergence;
    a single unsigned-64 value would overflow BIGINT differently per
    engine (Spark wraps, DuckDB raises).

    Scale: explode + one hash-partitioned aggregation with map-side
    combine; the shuffle carries 64 small ints per doc. Like
    minhash_signature_agg, the CPU-bound hash fan-out is spread over all
    cores when the source has fewer input files than parallelism.
    """
    base = df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_t"))
    par = df.sparkSession.sparkContext.defaultParallelism
    if len(df.inputFiles()) < par:
        base = base.repartition(par, "_id")
    ex = base.select("_id", F.explode(word_shingles("_t", shingle_n)).alias("_s"))
    md = F.md5("_s")
    ha = F.conv(F.substring(md, 1, 8), 16, 10).cast("bigint")
    hb = F.conv(F.substring(md, 9, 8), 16, 10).cast("bigint")
    ex = ex.select("_id", ha.alias("_ha"), hb.alias("_hb"))
    # Branchless SWAR per-bit tally (r8 branchless, r9 two-lane SWAR):
    # sign(sum ±1 per bit) == (2*sum(bit) > n), so aggregate raw bits —
    # and pack TWO bit positions (j and j+16) into one bigint
    # accumulator: bit j counts in the low 32 bits, bit j+16 in the
    # high 32 bits. Halves the aggregation buffers (65 → 33 aggs;
    # measured 25% off the signing stage at sf0.1). Lane capacity is
    # 2^31 shingles per document — unreachable (a doc would need >2 GiB
    # of text). The lanes unpack and the 2*count > n sign comparison
    # runs on the (tiny, one row per doc) grouped output.
    #
    # Expressions are built as SQL strings (F.expr), not Column
    # algebra: the Column form issues a py4j round-trip per operator —
    # ~400 calls ≈ 1 s of pure driver time PER QUERY BUILD (measured;
    # dominates the whole sf0.1 runtime). expr strings parse JVM-side
    # in one call each. Same plan, same codegen.
    aggs = (
        [
            F.expr(
                f"sum((shiftright(_ha, {j}) & 1) + shiftleft(shiftright(_ha, {j + 16}) & 1, 32))"
            ).alias(f"_a{j}")
            for j in range(16)
        ]
        + [
            F.expr(
                f"sum((shiftright(_hb, {j}) & 1) + shiftleft(shiftright(_hb, {j + 16}) & 1, 32))"
            ).alias(f"_b{j}")
            for j in range(16)
        ]
        + [F.count(F.lit(1)).alias("_n")]
    )
    per_bit = ex.groupBy("_id").agg(*aggs)

    def recon(prefix: str) -> str:
        terms = []
        for j in range(16):
            terms.append(f"if(2 * (_{prefix}{j} & 4294967295) > _n, {1 << j}, 0)")
            terms.append(f"if(2 * shiftright(_{prefix}{j}, 32) > _n, {1 << (j + 16)}, 0)")
        return "cast(" + " + ".join(terms) + " as bigint)"

    return per_bit.select(
        "_id",
        F.expr(recon("a")).alias("sim_a"),
        F.expr(recon("b")).alias("sim_b"),
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_n: int = 2,
    bands: int = 4,
    max_dist: int = 3,
    max_bucket_size: int | None = 5000,
    n_rows: int | None = None,
) -> DataFrame:
    """SimHash near-dup pairs with Hamming distance ≤ ``max_dist`` over a
    64-bit fingerprint.

    ``max_bucket_size`` caps any band bucket at that many (smallest-id)
    members before the self-join (:func:`_cap_buckets`); None disables.
    The pigeonhole completeness guarantee below holds for every pair
    whose agreeing bucket is under the cap — a degenerate mega-bucket
    (identical boilerplate) is sub-sampled, which is exact-dedup
    territory anyway.

    Banding: the 64 fingerprint bits split into ``bands`` equal slices;
    a pair differing in ≤ max_dist bits must agree on at least one slice
    whenever ``max_dist < bands`` (pigeonhole), so the band-bucket
    equi-join finds EVERY qualifying pair — exact, not approximate,
    while only ever joining within buckets. Default 4 bands of 16 bits
    ⇒ 65,536 buckets per band: expected candidate pairs grow
    O(N²/65536), not r2's O(N²/256) — the named 100 TB scale risk.

    The signature frame (1 row/doc, 2 ints) is localCheckpoint'ed so
    the banded self-join computes the explode+md5 aggregation exactly
    once; blocks free when the result is dereferenced. At extreme scale
    swap for an explicit temp-table write.

    Output: (id_a, id_b, hamming_dist), id_a < id_b.
    """
    assert max_dist < bands, "completeness requires max_dist < bands (pigeonhole)"
    assert 64 % bands == 0 and (64 // bands) <= 32 and 32 % (64 // bands) == 0
    band_bits = 64 // bands
    mask = (1 << band_bits) - 1
    per_word = 32 // band_bits  # bands carved from each 32-bit word
    sigs = simhash64_agg(
        df, id_col, text_col, shingle_n=shingle_n
    ).localCheckpoint(eager=True)

    def bucket(b: int) -> Column:
        word = F.col("sim_a") if b < per_word else F.col("sim_b")
        shift = (b % per_word) * band_bits
        return F.shiftright(word, shift).bitwiseAND(F.lit(mask))

    banded = sigs.select(
        "_id",
        "sim_a",
        "sim_b",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), bucket(b).alias("bucket"))
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("_id", "sim_a", "sim_b", "bb.band", "bb.bucket")
    banded, capped = _cap_buckets(banded, max_bucket_size, n_rows=n_rows)
    left = banded.alias("l")
    right = banded.alias("r")
    ham = hamming(F.col("l.sim_a"), F.col("r.sim_a")) + hamming(
        F.col("l.sim_b"), F.col("r.sim_b")
    )
    cond = (
        (F.col("l.band") == F.col("r.band"))
        & (F.col("l.bucket") == F.col("r.bucket"))
        & (F.col("l._id") < F.col("r._id"))
    )
    if not capped:
        # First-match dedup (r16, replaces the distinct() exchange): a
        # pair agreeing on several bands is emitted only from its FIRST
        # agreeing band — earlier bands' bucket values, recomputed from
        # the carried fingerprint words, must differ. Codegen'd
        # predicate instead of a shuffle of the pair set; sound only
        # uncapped (a capped bucket can drop one member of a pair from
        # the earlier band it agrees on — the capped path keeps
        # distinct()).
        def _b(side: str, b: int) -> Column:
            word = F.col(f"{side}.sim_a") if b < per_word else F.col(f"{side}.sim_b")
            return F.shiftright(word, (b % per_word) * band_bits).bitwiseAND(F.lit(mask))

        for b in range(1, bands):
            earlier = _b("l", 0) == _b("r", 0)
            for bp in range(1, b):
                earlier = earlier | (_b("l", bp) == _b("r", bp))
            cond = cond & ~((F.col("l.band") == b) & earlier)
    out = (
        left.join(right, cond)
        .select(
            F.col("l._id").alias("id_a"),
            F.col("r._id").alias("id_b"),
            ham.alias("hamming_dist"),
        )
        .filter(F.col("hamming_dist") <= max_dist)
    )
    return out.distinct() if capped else out


# ---------------------------------------------------------------------------
# KMV distinct-count sketch
# ---------------------------------------------------------------------------

def hash01_52bit(col: str):
    """md5-derived uniform hash in [0,1): 13 hex digits = 52 bits,
    exactly representable in a double, so every engine that divides the
    same integer by 2^52 gets the bit-identical value. This is THE
    engine-portability-critical hash behind KMV, the train/val/test
    split, and weighted sampling — keep the single definition here (its
    DuckDB twin is ``_DUCK_HASH01`` in queries/datapipe.py)."""
    return (
        F.conv(F.substring(F.md5(F.col(col).cast("string")), 1, 13), 16, 10).cast("bigint")
        / F.lit(float(1 << 52))
    )


def kmv_distinct_estimate(df: DataFrame, col: str, *, k: int = 256) -> DataFrame:
    """K-minimum-values distinct-count sketch → 1-row (est, k).

    The classic bottom-k sketch: hash every value to [0,1); if the k-th
    smallest distinct hash is h_k, the distinct count ≈ (k-1)/h_k.
    Deterministic (md5-based, no randomness), so the estimate is
    engine-portable — the oracle recomputes it exactly in SQL, unlike
    HLL whose register layout is implementation-private.

    Scale: one hash-partitioned distinct of ~k·P candidates after a
    map-side per-partition bottom-k (Catalyst's TakeOrderedAndProject
    does the global k); no full materialization of the distinct set.
    The 13-hex-digit (52-bit) hash keeps values exactly representable
    in doubles so both engines divide identically.
    """
    h = hash01_52bit(col).alias("h")
    # NULLs carry no distinct identity (count(DISTINCT col) semantics)
    # and their NULL hash would otherwise occupy a bottom-k slot — and
    # do so divergently across engines (Spark sorts NULLs first
    # ascending, DuckDB last).
    bottom = (
        df.filter(F.col(col).isNotNull()).select(h).distinct().orderBy("h").limit(k)
    )
    return bottom.agg(
        (F.lit(float(k - 1)) / F.max("h")).alias("est_distinct"), F.lit(k).alias("k")
    )


def _ckpt_ids(df: DataFrame) -> set[int]:
    """Persisted RDD id backing a localCheckpointed DataFrame (eager or
    lazy — both wrap the RDD in a LogicalRDD immediately),
    read off its OWN LogicalRDD plan node — never a before/after diff
    of the session-global persistent-RDD map, which attributed anything
    a CONCURRENT thread persisted during the window to this function
    and later evicted that thread's cached data (r16 ADVICE). If the
    plan shape ever stops being a bare LogicalRDD, returns empty: the
    checkpoint then lives until session end (a bounded leak) instead of
    risking someone else's eviction."""
    try:
        node = df._jdf.queryExecution().analyzed()
        if node.getClass().getName().endswith(".LogicalRDD"):
            return {int(node.rdd().id())}
    except Exception:
        pass
    return set()


def connected_components(
    edges: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    *,
    max_iters: int = 20,
) -> DataFrame:
    """Connected components of an undirected edge set by min-label
    propagation: (id, component) where component = the minimum id in
    the node's component.

    Each round is one neighbor-min join + groupBy followed by a label
    SHORT-CUT (follow one's label's own label — pointer doubling), so
    convergence is O(log diameter) rounds, not O(diameter): a chain of
    a million successively-similar documents closes in ~20 rounds where
    plain min-propagation would need a million. Lineage is truncated
    with an eager localCheckpoint per round (the iterative-algorithm
    pattern — without it the plan doubles every iteration), and the
    driver-side convergence check reads one count per round, never the
    data. If labels are still moving after ``max_iters`` rounds the
    function RAISES — a silently half-converged component assignment
    would drop the wrong documents downstream.
    """
    sc = edges.sparkSession.sparkContext

    def _unpersist(ids: set[int]) -> None:
        m = sc._jsc.getPersistentRDDs()
        for k in m.keySet().toArray():
            if int(k) in ids:
                m.get(k).unpersist(False)

    # Checkpoint the symmetrized edge list ONCE: it is joined in every
    # round, and an unmaterialized `edges` lineage (e.g. the LSH verify
    # join feeding neardup_clusters) would otherwise re-execute per
    # round — ~20x the verify cost at sf10 (r15 finding). Each round's
    # label checkpoint is freed once the next round has materialized:
    # leaving max_iters copies of the full label frame persisted was
    # the sf10 heap exhaustion.
    # Pre-partition by the JOIN key before the checkpoint (r16 opt,
    # guide §2.4 — remove shuffles outright where the data is already
    # partitioned as needed): every round's neighbor-min join probes
    # sym on dst, and the checkpoint preserves HashPartitioning(dst),
    # so the edge frame — the big one, E >> V — shuffles once at
    # materialization instead of once per round. (AQE may broadcast
    # the label side at small scale either way; the saving is the
    # sort-merge case at scale.)
    sym = (
        edges.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(edges.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .repartition(F.col("dst"))
        .localCheckpoint(eager=True)
    )
    sym_ids = _ckpt_ids(sym)
    # Node set from DST, not src (r17): the edge list is symmetrized so
    # both carry the same ids, but sym is hash-partitioned on dst — the
    # distinct reuses that exchange, and its output is partitioned by
    # dst≡id, exactly the convention every round's label checkpoint
    # pins. One setup exchange removed.
    labels = (
        sym.select(F.col("dst").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
        .localCheckpoint(eager=True)
    )
    prev_ids = _ckpt_ids(labels)
    for rnd in range(max_iters):
        neighbor_min = (
            sym.join(labels, sym["dst"] == labels["id"])
            .groupBy("src")
            .agg(F.min("component").alias("nmin"))
        )
        stepped = labels.join(
            neighbor_min, labels["id"] == neighbor_min["src"], "left"
        ).select(
            "id",
            F.least(
                F.col("component"), F.coalesce(F.col("nmin"), F.col("component"))
            ).alias("_c1"),
            "component",
        )
        # Short-cut (pointer doubling): every label is itself a node id,
        # so follow the label's label one hop. Monotone (labels only
        # decrease, bounded by the component minimum) and idempotent at
        # the fixed point, but turns O(diameter) convergence into
        # O(log diameter). The parent map is the ROUND-START label
        # frame (r17 restructure, guide §1.2): the r16 shape derived it
        # from `stepped` itself, so the parent join's two sides carried
        # the whole join1+groupBy+join2 subtree under DIFFERENT exchange
        # keys — ReusedExchange never fired and the round's join work
        # ran ~twice. The start-of-round map reads the materialized
        # checkpoint blocks instead; following a one-round-staler
        # pointer only shortens jumps slightly (still O(log diameter)),
        # and the fixed point is unchanged: changed == 0 below forces
        # new == component, which (new <= _c1 <= component) pins BOTH
        # the hook and the compression stationary — the plain
        # min-propagation fixed point, the component minimum.
        if rnd == 0:
            # First round: labels are the identity map, so the shortcut
            # (follow the label's label) is provably a no-op —
            # labels_old(_c1) == _c1 for every value. Skip the parent
            # join and its two exchanges entirely (r17).
            shortcut = stepped.select("id", F.col("_c1").alias("new_component"), "component")
        else:
            parent = labels.select(
                F.col("id").alias("_pid"), F.col("component").alias("_pc")
            )
            shortcut = stepped.join(
                parent, stepped["_c1"] == parent["_pid"], "left"
            ).select(
                "id",
                F.least(
                    F.col("_c1"), F.coalesce(F.col("_pc"), F.col("_c1"))
                ).alias("new_component"),
                "component",
            )
        # Repartition by id before the checkpoint (same rationale as
        # sym's dst pre-partition): next round joins the label frame
        # on id twice (neighbor-min probe + stepped), and without a
        # pinned partitioning each of those pays an exchange — one
        # exchange here replaces two there.
        # The checkpoint is LAZY (r17, guide §1.2): the convergence
        # count below is the round's first action, so ONE job both
        # materializes the checkpoint blocks and serves the count —
        # the r16 shape paid an eager-checkpoint job plus a count job
        # per round.
        updated = (
            shortcut
            .repartition(F.col("id"))
            .localCheckpoint(eager=False)
        )
        changed = updated.filter(F.col("new_component") != F.col("component")).count()
        new_ids = _ckpt_ids(updated)
        # this round is materialized; the previous round's checkpoint
        # is unreachable from any future computation — free it
        _unpersist(prev_ids)
        prev_ids = new_ids
        labels = updated.select("id", F.col("new_component").alias("component"))
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components: labels still moving after {max_iters} "
            "rounds — raise max_iters (convergence is O(log diameter) with "
            "short-cutting; 20 rounds covers ~0.5M-hop chains — measured "
            "12 rounds for a 2000-hop chain with the round-start parent "
            "map, one more than the r16 fresh-parent shape)"
        )
    # the result references only the final label checkpoint
    _unpersist(sym_ids)
    return labels


def neardup_clusters(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_n: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    threshold: float = 0.5,
    max_bucket_size: int | None = 5000,
    est_gate: float | str | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """Cluster ids for near-duplicate documents: every doc gets a
    cluster_id = the minimum doc id of its near-dup component (its own
    id if it has no near-dups) — the canonical-survivor assignment a
    dedup pipeline keys its keep/drop decision on.

    Pipeline: LSH candidate pairs (the 100 TB path) → connected
    components over the verified pair graph → left join back to the
    corpus so singletons keep themselves.
    """
    pairs = lsh_candidate_pairs(
        df,
        id_col,
        text_col,
        shingle_n=shingle_n,
        num_hashes=num_hashes,
        bands=bands,
        threshold=threshold,
        max_bucket_size=max_bucket_size,
        est_gate=est_gate,
        n_rows=n_rows,
    )
    cc = connected_components(pairs)
    ids = df.select(F.col(id_col))
    return ids.join(cc, ids[id_col] == cc["id"], "left").select(
        F.col(id_col),
        F.coalesce(F.col("component"), F.col(id_col)).alias("cluster_id"),
    )


def canonical_url(col) -> "Column":
    """URL canonicalization as ONE Column expression (no UDF) — the
    first dedup key every web-crawl pipeline applies before content
    hashing: lowercase scheme+host, drop the scheme, strip a leading
    ``www.``, drop fragments, drop common tracking query parameters
    (utm_*, gclid, fbclid, ref), sort the surviving query parameters,
    and trim a trailing slash. Two URLs that differ only in those
    respects canonicalize identically."""
    from pyspark.sql import functions as F

    c = F.col(col) if isinstance(col, str) else col
    # strip scheme + fragment, lowercase the host part
    no_scheme = F.regexp_replace(c, r"^[a-zA-Z][a-zA-Z0-9+.-]*://", "")
    no_frag = F.regexp_replace(no_scheme, r"#.*$", "")
    host = F.lower(F.regexp_extract(no_frag, r"^([^/?]*)", 1))
    host = F.regexp_replace(host, r"^www\.", "")
    rest = F.regexp_extract(no_frag, r"^[^/?]*(.*)$", 1)
    path = F.regexp_extract(rest, r"^([^?]*)", 1)
    query = F.regexp_extract(rest, r"\?(.*)$", 1)
    # drop tracking params, sort the remainder
    params = F.filter(
        F.split(query, "&"),
        lambda p: (p != "")
        & ~p.rlike(r"^(utm_[a-zA-Z]+|gclid|fbclid|ref)="),
    )
    canon_q = F.array_join(F.array_sort(params), "&")
    path = F.when(
        path.endswith("/"), F.substring(path, 1, F.length(path) - 1)
    ).otherwise(path)  # '/x/' -> '/x'; bare '/' -> '' (root == no path)
    return F.concat(
        host,
        path,
        F.when(canon_q != "", F.concat(F.lit("?"), canon_q)).otherwise(F.lit("")),
    )


def url_dedup_groups(df, url_col: str, id_col: str):
    """Group rows by canonical URL: (canonical_url, n_copies, keep_id) —
    the same keep-lowest-id contract as exact_dedup_groups, one hash
    aggregate at any scale."""
    from pyspark.sql import functions as F

    return (
        df.select(canonical_url(url_col).alias("canonical_url"), F.col(id_col))
        .groupBy("canonical_url")
        .agg(F.count(F.lit(1)).alias("n_copies"), F.min(id_col).alias("keep_id"))
    )


def decontaminate_flags(
    train: "DataFrame",
    evalset: "DataFrame",
    *,
    id_col: str,
    text_col: str,
    shingle_n: int = 8,
) -> "DataFrame":
    """Benchmark decontamination: flag training documents sharing any
    word ``shingle_n``-gram with an eval/benchmark set (the public
    GPT-3/PaLM contamination procedure — 8-13 gram overlap). Plan shape:
    explode both sides to (shingle → id), equi-join on the shingle
    (eval side is small and broadcasts), distinct train ids — candidate
    generation is linear in corpus shingles, never all-pairs.

    Output: (id_col, contaminated boolean) for every train row.
    """
    from pyspark.sql import functions as F

    t = train.select(
        F.col(id_col), word_shingles(text_col, shingle_n).alias("__sh")
    ).select(id_col, F.explode("__sh").alias("__s"))
    e = evalset.select(
        F.explode(word_shingles(text_col, shingle_n)).alias("__s")
    ).distinct()
    hits = t.join(F.broadcast(e), "__s").select(id_col).distinct()
    return train.select(id_col).join(
        hits.withColumn("__c", F.lit(True)), id_col, "left"
    ).select(id_col, F.coalesce("__c", F.lit(False)).alias("contaminated"))


def paragraph_dedup_groups(
    df: "DataFrame", id_col: str, text_col: str
) -> "DataFrame":
    """Paragraph-level exact dedup: split on blank lines, hash each
    non-empty paragraph, group across the corpus — the boilerplate
    killer (headers/footers/licenses repeated across crawled pages).
    Output: (para_hash, n_copies, n_docs, keep_doc) for paragraphs
    occurring anywhere. One explode + one hash aggregate."""
    from pyspark.sql import functions as F

    paras = df.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), r"\n\s*\n")).alias("p"),
    ).select(id_col, F.trim("p").alias("p")).filter(F.col("p") != "")
    return paras.groupBy(F.md5("p").alias("para_hash")).agg(
        F.count(F.lit(1)).alias("n_copies"),
        F.count_distinct(id_col).alias("n_docs"),
        F.min(id_col).alias("keep_doc"),
    )


def dedupe_corpus(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    url_col: str | None = None,
    near_dup: bool = True,
    threshold: float = 0.8,
    shingle_n: int = 3,
    max_bucket_size: int | None = 5000,
) -> tuple[DataFrame, dict]:
    """One-call corpus deduplication: the composed pipeline a training
    run actually wants, in the canonical order.

    1. **exact** — content-hash groups, keep the minimum id;
    2. **url** (when ``url_col`` given) — canonical-URL groups over the
       exact survivors (tracking params dropped, params sorted);
    3. **near-dup** (default on) — LSH pairs at ``threshold`` jaccard →
       connected components → keep each cluster's minimum id.

    Stage order matters at scale: exact dedup is one cheap hash
    aggregate and removes the mass that would otherwise flood LSH
    buckets (the cap in :func:`_cap_buckets` is the backstop, this is
    the cure), so the expensive stage sees only distinct content.

    Returns ``(clean_df, report)`` — the surviving rows with their
    original columns, plus per-stage drop counts. Every stage is a
    hash-partitioned aggregate or the banded-LSH path; nothing
    quadratic, no driver-side data."""
    report: dict = {"input_rows": df.count()}

    hashes = exact_duplicates(df, text_col, id_col).select("content_hash", "keep_id")
    keyed = df.withColumn("__h", F.md5(F.col(text_col)))
    # No broadcast hint: the duplicate-hash frame grows with duplicated
    # content, which is unbounded at 100 TB — a plain shuffle join on
    # the hash is safe at any scale, and AQE promotes it to broadcast
    # when the frame is actually small.
    dupes = keyed.join(
        hashes, F.col("__h") == F.col("content_hash"), "inner"
    ).filter(F.col(id_col) != F.col("keep_id")).select(F.col(id_col).alias("__drop"))
    survivors = df.join(dupes, df[id_col] == dupes["__drop"], "left_anti")
    report["exact_dropped"] = report["input_rows"] - survivors.count()

    if url_col is not None:
        # rows with NULL url have no URL identity — they pass through
        # untouched (grouping them would collapse every NULL-url doc
        # into one survivor)
        with_url = survivors.filter(F.col(url_col).isNotNull())
        no_url = survivors.filter(F.col(url_col).isNull())
        groups = url_dedup_groups(with_url, url_col, id_col)
        keep = groups.select(F.col("keep_id").alias("__keep"))
        kept_url = with_url.join(
            keep, with_url[id_col] == keep["__keep"], "left_semi"
        )
        survivors = kept_url.unionByName(no_url)
        n = survivors.count()
        report["url_dropped"] = report["input_rows"] - report["exact_dropped"] - n

    if near_dup:
        before = survivors.count()
        # The estimate gate is safe here: exact dedup already ran (no
        # identical-content candidates left) and the pipeline threshold
        # (default 0.8) sits above the banding midpoint, where gate
        # false-drops are vanishingly rare (see lsh_candidate_pairs).
        clusters = neardup_clusters(
            survivors, id_col, text_col,
            shingle_n=shingle_n, threshold=threshold,
            max_bucket_size=max_bucket_size, est_gate="auto",
        )
        keep_ids = clusters.filter(F.col(id_col) == F.col("cluster_id")).select(
            F.col(id_col).alias("__keep")
        )
        survivors = survivors.join(
            keep_ids, survivors[id_col] == keep_ids["__keep"], "left_semi"
        )
        report["neardup_dropped"] = before - survivors.count()

    report["output_rows"] = survivors.count()
    return survivors, report
