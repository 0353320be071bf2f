"""Deduplication operators for large text corpora.

Four tiers, cheapest-exact to cheapest-approximate:

- ``exact_duplicates``   — md5-fingerprint hash-groupBy. One shuffle on the
  fingerprint; map-side partial aggregation keeps it linear at 100 TB.
- ``jaccard_pairs``      — EXACT token-set Jaccard via token blocking
  (candidate pairs must share ≥1 token — 100% recall for any threshold>0).
  Fine at moderate scale / with document-frequency pruning; quadratic in
  the worst case, which is why the MinHash path exists.
- ``minhash_lsh_pairs``  — MinHash signatures + LSH banding. The 100 TB
  path: cost is (docs × shingles × seeds) for signatures plus one shuffle
  per band join. Recall is probabilistic. By default candidates are
  filtered on the signature-ESTIMATED Jaccard (precision < 1);
  ``verify="exact"`` re-verifies survivors against the full feature sets
  so reported values are exact and precision is 1.
- ``simhash64``          — 64-bit SimHash per document (Arrow-batched
  pandas UDF; hamming-close docs are near-dups). Pair generation uses
  pigeonhole banding: recall is exactly 1 for pairs within the hamming
  budget.

MinHash components are independently seeded xxhash64 minima —
deterministic for a given Spark version, and linear in feature count.
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from cassandra_es_index_spark.functions.text import fingerprint, shingles, tokens
from cassandra_es_index_spark.pins import release_checkpoint


def _spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition ONLY when the input's planned parallelism
    is below the cluster's (single-file local reads, tiny cached inputs):
    the compute-heavy maps downstream — shingling, seeded hashing,
    ``array_distinct`` over shingle sets — must be sized by CPU, not by
    input file count, or a 1-file corpus runs them on 1 core. At scale
    (input partitions ≥ defaultParallelism, the normal case for a large
    parquet table) this is a no-op and adds no shuffle."""
    want = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < want:
        return df.repartition(want)
    return df


def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Group rows by content fingerprint.

    Returns (fingerprint, n_copies, representative_id) — one row per
    distinct content, representative = min id. A single hash-partitioned
    aggregation; at scale the md5 computation is map-side and the shuffle
    carries only (fingerprint, id).
    """
    return (df.select(fingerprint(F.col(text_col)).alias("fingerprint"),
                      F.col(id_col))
              .groupBy("fingerprint")
              .agg(F.count("*").cast("long").alias("n_copies"),
                   F.min(id_col).alias("representative_id")))


def jaccard_pairs(df: DataFrame, id_col: str, text_col: str,
                  threshold: float = 0.8,
                  max_token_df: int | str | None = "auto",
                  auto_floor: int = 1024,
                  auto_frac: float = 0.01) -> DataFrame:
    """Exact token-set Jaccard similarity join.

    Blocking: explode distinct tokens, self-join on token, count shared
    tokens per pair, then J = shared / (|A| + |B| - shared). Any pair with
    J ≥ threshold > 0 shares a token, so recall is exact.

    ``max_token_df`` drops tokens appearing in more than that many docs
    from *candidate generation* — the standard scale lever: hot tokens
    generate quadratic candidates and contribute least information. The
    default ``"auto"`` sets it to max(auto_floor, auto_frac × corpus size),
    which is a no-op on small corpora and bounds the hottest token's
    candidate blow-up on large ones; a pair is only missed if *every*
    token it shares is hot, which at a 0.9-style threshold means
    stopword-only near-dups. Pass None for strictly exact semantics, or an
    int to pin the cutoff.
    """
    df = _spread(df)
    if max_token_df == "auto":
        n_docs = df.count()
        cutoff = max(auto_floor, int(n_docs * auto_frac))
        # no-op unless some token can actually exceed the cutoff
        max_token_df = cutoff if n_docs > cutoff else None
    toks = (df.select(F.col(id_col).alias("doc"),
                      F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("tok")))
    sizes = toks.groupBy("doc").agg(F.count("*").cast("long").alias("sz"))
    sa = sizes.select(F.col("doc").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc").alias("doc_b"), F.col("sz").alias("sz_b"))

    if max_token_df is None:
        # exact path: shared counts straight from the blocking join
        a, b = toks.alias("a"), toks.alias("b")
        shared = (a.join(b, (F.col("a.tok") == F.col("b.tok"))
                         & (F.col("a.doc") < F.col("b.doc")))
                   .groupBy(F.col("a.doc").alias("doc_a"),
                            F.col("b.doc").alias("doc_b"))
                   .agg(F.count("*").cast("long").alias("shared")))
    else:
        # guarded path: hot tokens are excluded from candidate GENERATION
        # only; the Jaccard itself is verified against the full token sets
        # so reported values stay exact for every surviving pair.
        rare = (toks.groupBy("tok").agg(F.count("*").alias("df_"))
                    .where(F.col("df_") <= max_token_df).select("tok"))
        blocked = toks.join(rare, "tok")
        a, b = blocked.alias("a"), blocked.alias("b")
        cand = (a.join(b, (F.col("a.tok") == F.col("b.tok"))
                       & (F.col("a.doc") < F.col("b.doc")))
                 .select(F.col("a.doc").alias("doc_a"),
                         F.col("b.doc").alias("doc_b"))
                 .distinct())
        tok_arrays = df.select(
            F.col(id_col).alias("doc"),
            F.array_distinct(tokens(F.col(text_col))).alias("ta"))
        ta = tok_arrays.select(F.col("doc").alias("doc_a"), F.col("ta").alias("ta_a"))
        tb = tok_arrays.select(F.col("doc").alias("doc_b"), F.col("ta").alias("ta_b"))
        shared = (cand.join(ta, "doc_a").join(tb, "doc_b")
                      .select("doc_a", "doc_b",
                              F.size(F.array_intersect("ta_a", "ta_b"))
                               .cast("long").alias("shared")))

    return (shared.join(sa, "doc_a").join(sb, "doc_b")
            .withColumn("jaccard",
                        F.round(F.col("shared")
                                / (F.col("sz_a") + F.col("sz_b") - F.col("shared")), 6))
            .where(F.col("jaccard") >= threshold)
            .select("doc_a", "doc_b", "shared", "sz_a", "sz_b", "jaccard"))


def _lsh_rows_per_band(num_hashes: int, bands: int) -> int:
    """Validated ``num_hashes / bands`` for the LSH banding layout.

    ``bands > num_hashes`` would make rows_per_band 0 — every band key
    degenerates to the empty string and the whole corpus collides into
    one bucket (silently merging everything into a single cluster on
    the star path, which has no downstream Jaccard verification to
    catch it). A non-divisible split would silently ignore the
    ``num_hashes % bands`` trailing signature components. Both violate
    the no-silent-drops contract, so both are typed errors."""
    if not 1 <= bands <= num_hashes:
        raise ValueError(
            f"bands must satisfy 1 <= bands <= num_hashes; got "
            f"bands={bands}, num_hashes={num_hashes}")
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes must be divisible by bands (otherwise "
            f"{num_hashes % bands} signature components would be "
            f"silently ignored); got num_hashes={num_hashes}, "
            f"bands={bands}")
    return num_hashes // bands


def _feature_spans_np(np, tk, unit: str, shingle_n: int):
    """Byte-slice feature enumeration for one Arrow batch's token-list
    column — the kernel shared by the Arrow MinHash and contamination
    paths. Returns ``(buf, starts, lens, out_rows, segs)``: a flat
    uint8 buffer plus per-feature (start, len) slices of it, the input
    row index emitting each contiguous run of features (``out_rows``),
    and each run's first-feature index (``segs``).

    Unit ``token``: features are the tokens themselves (rows with a
    NULL or empty token array emit nothing — the old explode's
    behavior). Unit ``shingle``: each doc's tokens are joined once
    with single spaces (``concat_ws`` on UTF8Strings is byte
    concatenation, so every slice equals the JVM-built shingle string
    byte-for-byte); rows with ≥ n tokens emit the sliding grams, rows
    with < n tokens — INCLUDING null token arrays, because
    ``shingles(NULL)`` is ``[""]`` in the Column form (size(NULL) = -1
    takes the fallback branch and concat_ws(NULL) = "") — emit the
    single all-tokens join ("" when empty)."""
    # token counts per row, NULL rows zeroed — aligned with flatten(),
    # which drops null rows' value ranges
    counts = tk.value_lengths().fill_null(0) \
        .to_numpy(zero_copy_only=False).astype(np.int64)
    flat = tk.flatten()
    nt = len(flat)
    if nt:
        fo = np.frombuffer(flat.buffers()[1], np.int32) \
            [flat.offset:flat.offset + nt + 1].astype(np.int64)
        sbuf = np.frombuffer(flat.buffers()[2], np.uint8)
    else:
        fo = np.zeros(1, np.int64)
        sbuf = np.empty(0, np.uint8)
    tl = np.diff(fo)
    row_first = np.concatenate(
        ([0], np.cumsum(counts)[:-1])).astype(np.int64)
    valid = ~tk.is_null().to_numpy(zero_copy_only=False)

    if unit == "token":
        out_rows = np.flatnonzero(valid & (counts > 0))
        return sbuf, fo[:-1].copy(), tl, out_rows, row_first[out_rows]

    n = shingle_n
    tok_row = np.repeat(np.arange(counts.shape[0]), counts)
    within = np.arange(nt) - row_first[tok_row]
    cnt_tok = counts[tok_row]
    gaps = (within > 0).astype(np.int64)
    cum = np.cumsum(tl + gaps)
    ostart = cum - tl
    out_buf = np.full(int(cum[-1]) if nt else 0, 0x20, np.uint8)
    if nt:
        shift = np.repeat(ostart - (fo[:-1] - fo[0]), tl)
        out_buf[np.arange(fo[-1] - fo[0]) + shift] = sbuf[fo[0]:fo[-1]]
    # class A: rows with >= n tokens — the sliding grams
    selA = np.flatnonzero(within <= cnt_tok - n)
    stA = ostart[selA]
    lnA = (ostart[selA + (n - 1)] + tl[selA + (n - 1)]) - stA
    rowsA = np.flatnonzero(counts >= n)
    mA = counts[rowsA] - (n - 1)
    segsA = (np.cumsum(mA) - mA).astype(np.int64)
    # class B: rows with < n tokens — ONE shingle each (see docstring)
    rowsB = np.flatnonzero(counts < n)
    cntB = counts[rowsB]
    firstB = row_first[rowsB]
    if nt:
        safe_first = np.minimum(firstB, nt - 1)
        safe_last = np.clip(firstB + cntB - 1, 0, nt - 1)
        stB = np.where(cntB > 0, ostart[safe_first], 0).astype(np.int64)
        lnB = np.where(cntB > 0,
                       ostart[safe_last] + tl[safe_last] - stB,
                       0).astype(np.int64)
    else:
        stB = np.zeros(rowsB.shape[0], np.int64)
        lnB = np.zeros(rowsB.shape[0], np.int64)
    return (out_buf, np.concatenate((stA, stB)),
            np.concatenate((lnA, lnB)),
            np.concatenate((rowsA, rowsB)),
            np.concatenate((segsA,
                            stA.shape[0] + np.arange(rowsB.shape[0]))))


def _minhash_sig_batches(num_hashes: int, shingle_n: int, unit: str):
    """mapInArrow generator factory for :func:`minhash_signature`:
    (doc, token array) rows → per-ROW MinHash component minima
    (doc, mh_0..mh_{num_hashes-1}).

    Bit-identical to the old explode → ``num_hashes`` ×
    ``min(xxhash64(lit(i), sh))`` Column aggregation (r16): the
    shingle BYTES are never materialized — each doc's tokens are
    joined once with single spaces into a flat buffer, and every
    shingle is a contiguous (start, len) slice of it (``concat_ws``
    on UTF8Strings is byte concatenation, so the slice equals the
    JVM-built shingle string byte-for-byte, whatever the Unicode
    content). The ``num_hashes`` seeded hashes run vectorized over
    those slices (``_xxh64_bytes_prepare_np`` — the gathers are
    hoisted once, only the arithmetic re-runs per seed), and the
    per-row minima are one ``np.minimum.reduceat`` per seed. Unit
    ``token``: rows with a NULL token array emit nothing (the old
    explode dropped them). Unit ``shingle``: rows with fewer than
    ``shingle_n`` tokens — INCLUDING null-text rows — emit the single
    all-tokens shingle ("" when empty), exactly like
    ``functions.text.shingles``'s fallback branch.
    Duplicate doc ids stay correct: the caller's groupBy(doc) merges
    per-row minima, and min is associative. Precondition (same as
    the old explode form): token arrays carry no null ELEMENTS —
    ``functions.text.tokens`` never produces them."""
    from cassandra_es_index_spark.functions.text import _xxh64_int_seed

    seeds = [_xxh64_int_seed(i) for i in range(num_hashes)]

    def gen(batches):
        import numpy as np
        import pyarrow as pa

        from cassandra_es_index_spark.functions.text import (
            _xxh64_bytes_prepare_np,
        )

        names = ["doc"] + [f"mh_{i}" for i in range(num_hashes)]
        for batch in batches:
            ids = batch.column(0)
            tk = batch.column(1)
            buf, starts, lens, out_rows, segs = _feature_spans_np(
                np, tk, unit, shingle_n)
            if out_rows.shape[0] == 0:
                yield pa.RecordBatch.from_arrays(
                    [ids.slice(0, 0)]
                    + [pa.array(np.empty(0, np.int64))] * num_hashes,
                    names=names)
                continue
            run = _xxh64_bytes_prepare_np(buf, starts, lens)
            mins = [np.minimum.reduceat(run(s).view(np.int64), segs)
                    for s in seeds]
            yield pa.RecordBatch.from_arrays(
                [ids.take(pa.array(out_rows))]
                + [pa.array(m) for m in mins], names=names)
    return gen


def _band_keys_expr(bands: int, rows_per_band: int):
    """The LSH band-key struct array as ONE server-parsed expression
    (r16, the r15.5 ``F.expr`` batching trick): the per-Column form
    costs one py4j round trip per ``F.lit``/``F.col``/struct call —
    ~150 trips at bands=16 — while one SQL string parses server-side
    in a single trip. Parses to the IDENTICAL expression tree:
    ``{b}`` is an int literal like ``F.lit(b)``, ``signature[i]`` is
    the same 0-based GetArrayItem, and the struct field names ride
    the ``AS`` aliases."""
    parts = ", ".join(
        "struct({b} as band, concat_ws('|', {cols}) as key)".format(
            b=b,
            cols=", ".join(f"signature[{b * rows_per_band + r}]"
                           for r in range(rows_per_band)))
        for b in range(bands))
    return F.expr(f"array({parts})")


def minhash_signature(df: DataFrame, id_col: str, text_col: str,
                      num_hashes: int = 32, shingle_n: int = 3,
                      unit: str = "shingle") -> DataFrame:
    """MinHash signatures: component i = min over features of
    xxhash64(i, feature) — a 64-bit seeded hash per component.

    ``unit`` picks the feature set the signature estimates Jaccard over:
    ``"shingle"`` (default) hashes ``shingle_n``-grams — order-sensitive,
    the right notion for copied/templated text; ``"token"`` hashes the
    token set — order-free bag-of-words similarity, the estimator twin of
    ``jaccard_pairs`` (which is token-set Jaccard).

    Shape (r16, guide §4.2): tokenization stays a JVM Column (so the
    token set is exactly ``functions.text.tokens``), then ONE
    ``mapInArrow`` builds the shingle byte slices and all
    ``num_hashes`` seeded XXH64 minima vectorized in numpy —
    bit-identical to the old explode → 32 × ``min(xxhash64(lit(i),
    sh))`` aggregation (pinned by the minhash equivalence test; the
    string-XXH64 reimplementation is pinned bit-equal to the JVM on
    its own grid), with no shingle string ever materialized on either
    side of the boundary. The old form's 32 seeded string hashes were
    the dominant map-side cost (~1.5 s/corpus scan at sf0.1) and ran
    through interpreted/codegen'd per-row expression trees — the same
    JIT-churn class r15.4 removed for the n-gram stats. The final
    groupBy(doc) merges per-row minima (duplicate-id semantics of the
    old global groupBy preserved; min is associative) and carries one
    64-byte partial per doc — linear in corpus size, never in grams.

    Component independence matters: a bounded Kirsch–Mitzenmacher
    ``h1 + i·h2`` variant (tried for speed) correlates the components'
    min-rankings and inflated the estimated Jaccard ~25× at sf0.1.
    """
    if unit not in ("shingle", "token"):
        raise ValueError(f"unknown minhash unit {unit!r}")
    base = (_spread(df)
            .select(F.col(id_col).alias("doc"),
                    tokens(F.col(text_col)).alias("_tk")))
    id_type = base.schema["doc"].dataType.simpleString()
    per = base.mapInArrow(
        _minhash_sig_batches(num_hashes, shingle_n, unit),
        schema=f"doc {id_type}, "
               + ", ".join(f"mh_{i} bigint" for i in range(num_hashes)))
    # one server-parsed aggregate list (r16 — same trick as
    # ``_band_keys_expr``): array(min(mh_0), …, min(mh_31)) in a single
    # py4j round trip instead of ~4 per component
    mins = ", ".join(f"min(mh_{i})" for i in range(num_hashes))
    return per.groupBy("doc").agg(
        F.expr(f"array({mins})").alias("signature"))


def minhash_lsh_pairs(df: DataFrame, id_col: str, text_col: str,
                      threshold: float = 0.7,
                      num_hashes: int = 32, bands: int = 8,
                      shingle_n: int = 3, unit: str = "shingle",
                      verify: str = "estimate") -> DataFrame:
    """Near-dup pairs via MinHash + LSH banding.

    bands × rows layout: a pair collides if any band of ``num_hashes/bands``
    consecutive components matches exactly. Each band is one equi-join on
    the band key — shuffle-friendly and linear in collisions, never in
    pairs.

    ``verify`` picks the filtering stage applied to candidates:

    - ``"estimate"`` (default): filter on the signature-estimated Jaccard
      (fraction of equal components). Cheap — no second look at the
      corpus — but the estimate has sampling error, so precision < 1.
      Output: (doc_a, doc_b, est_jaccard).
    - ``"exact"``: additionally join surviving candidates back to their
      full distinct feature sets (tokens or shingles, matching ``unit``)
      and filter on the TRUE Jaccard ≥ threshold. Precision is 1 by
      construction; recall stays that of the LSH candidate generator. The
      verify join touches only candidate docs, so its cost is linear in
      collisions, never in corpus size.
      Output: (doc_a, doc_b, est_jaccard, jaccard).
    """
    if verify not in ("estimate", "exact"):
        raise ValueError(f"unknown verify mode {verify!r}")
    rows_per_band = _lsh_rows_per_band(num_hashes, bands)
    # (r15) the band-key self-join consumes the signature frame on BOTH
    # sides, and Spark does not recognize the two aggregation subtrees
    # as shareable (no ReusedExchange fires — the plan carried the full
    # tokenize→explode→32-seeded-hash aggregation twice). One lazy
    # localCheckpoint pins the signatures (a row per doc — tiny next to
    # the corpus) so the corpus is scanned and hashed once (guide §2.4).
    # Lazy, not eager (r15.2 A/B): eager pins here measured no faster
    # in isolation (3.45 vs 3.50 s median) and one batch session blew
    # up 30x under the accumulated per-run pin state — the lazy form,
    # materialized inside the query's own execution, never showed that
    # tail across any session.
    sigs = minhash_signature(df, id_col, text_col, num_hashes, shingle_n,
                             unit).localCheckpoint(eager=False)

    band_keys = sigs.select(
        "doc", "signature",
        F.explode(_band_keys_expr(bands, rows_per_band)).alias("bk"),
    ).select("doc", "signature", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))

    a, b = band_keys.alias("a"), band_keys.alias("b")
    cand = (a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.key") == F.col("b.key"))
                   & (F.col("a.doc") < F.col("b.doc")))
             .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"),
                     F.col("a.signature").alias("sig_a"), F.col("b.signature").alias("sig_b"))
             .dropDuplicates(["doc_a", "doc_b"]))
    est = F.round(
        F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                        lambda eq: eq))
        / F.lit(float(num_hashes)), 6)
    estimated = (cand.withColumn("est_jaccard", est)
                     .where(F.col("est_jaccard") >= threshold)
                     .select("doc_a", "doc_b", "est_jaccard"))
    if verify == "estimate":
        return estimated

    # exact verification: candidates → full distinct feature sets →
    # true Jaccard (same shape as jaccard_pairs' guarded path).
    # (r15) candidates are pinned once (a small pair list), their doc
    # ids broadcast-semi-prune the feature-set scan BEFORE the arrays
    # are built, and the pruned sets (candidate docs only — bounded by
    # collisions, never corpus size) are pinned once for both join
    # sides: the corpus is tokenized once here instead of twice, and
    # only candidate docs' shingle arrays ever materialize (guide
    # §2.3/§3.2 — prune the big side before it is shuffled).
    estimated = estimated.localCheckpoint(eager=False)
    cand_ids = (estimated.select(F.explode(
        F.array("doc_a", "doc_b")).alias("doc")).distinct())
    feats = (shingles(F.col(text_col), shingle_n) if unit == "shingle"
             else tokens(F.col(text_col)))
    feat_sets = (_spread(df)
                 .select(F.col(id_col).alias("doc"), F.col(text_col))
                 .join(F.broadcast(cand_ids), "doc", "left_semi")
                 .select("doc", F.array_distinct(feats).alias("fs"))
                 .localCheckpoint(eager=False))
    fa = feat_sets.select(F.col("doc").alias("doc_a"), F.col("fs").alias("fs_a"))
    fb = feat_sets.select(F.col("doc").alias("doc_b"), F.col("fs").alias("fs_b"))
    inter = F.size(F.array_intersect("fs_a", "fs_b")).cast("double")
    union = (F.size("fs_a") + F.size("fs_b")).cast("double") - inter
    return (estimated.join(fa, "doc_a").join(fb, "doc_b")
            .withColumn("jaccard", F.round(inter / union, 6))
            .where(F.col("jaccard") >= threshold)
            .select("doc_a", "doc_b", "est_jaccard", "jaccard"))


def _simhash_batch(texts: pd.Series) -> pd.Series:
    """64-bit SimHash over whitespace tokens (Arrow-batched; the bit-vote
    accumulation has no built-in Column equivalent)."""
    out = []
    for text in texts:
        votes = [0] * 64
        for tok in (text or "").lower().split():
            h = int.from_bytes(hashlib.md5(tok.encode()).digest()[:8], "big")
            for bit in range(64):
                votes[bit] += 1 if (h >> bit) & 1 else -1
        sig = 0
        for bit in range(64):
            if votes[bit] > 0:
                sig |= 1 << bit
        # to signed 64-bit
        out.append(sig - (1 << 64) if sig >= (1 << 63) else sig)
    return pd.Series(out, dtype="int64")


def simhash64(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, simhash) — near-dups have small hamming distance between
    signatures; pair generation can then band on signature prefixes."""
    simhash_udf = pandas_udf(_simhash_batch, "long")
    return _spread(df).select(F.col(id_col).alias("doc"),
                              simhash_udf(F.col(text_col)).alias("simhash"))


def _pigeonhole_blocks(max_hamming: int) -> list[tuple[int, int]]:
    """(offset, width) per band: 64 bits split into ``max_hamming + 1``
    near-equal contiguous blocks. A pair within the hamming budget differs
    in at most ``max_hamming`` bits, so by pigeonhole at least one block
    carries zero differing bits — i.e. matches exactly."""
    n_blocks = max_hamming + 1
    base, rem = divmod(64, n_blocks)
    blocks, offset = [], 0
    for i in range(n_blocks):
        width = base + (1 if i < rem else 0)
        blocks.append((offset, width))
        offset += width
    return blocks


def simhash_pairs_from_signatures(sigs: DataFrame,
                                  max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs from a (doc, simhash) DataFrame via pigeonhole
    banding: candidates = pairs agreeing exactly on at least one of the
    ``max_hamming + 1`` bit-blocks, then exact hamming verification.
    Recall is provably 1.0 for pairs within the hamming budget (any such
    pair must share an unchanged block); each band is one equi-join —
    linear in collisions, never in pairs."""
    blocks = _pigeonhole_blocks(max_hamming)
    keyed = sigs.select(
        "doc", "simhash",
        F.explode(F.array(*[
            F.struct(
                F.lit(i).alias("blk"),
                F.shiftrightunsigned("simhash", off)
                 .bitwiseAND(F.lit((1 << width) - 1)).alias("val"))
            for i, (off, width) in enumerate(blocks)
        ])).alias("bk"),
    ).select("doc", "simhash",
             F.col("bk.blk").alias("blk"), F.col("bk.val").alias("val"))
    a, b = keyed.alias("a"), keyed.alias("b")
    xor = F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    return (a.join(b, (F.col("a.blk") == F.col("b.blk"))
                   & (F.col("a.val") == F.col("b.val"))
                   & (F.col("a.doc") < F.col("b.doc")))
             .select(F.col("a.doc").alias("doc_a"),
                     F.col("b.doc").alias("doc_b"),
                     F.bit_count(xor).alias("hamming"))
             .where(F.col("hamming") <= max_hamming)
             .dropDuplicates(["doc_a", "doc_b"]))


def simhash_pairs(df: DataFrame, id_col: str, text_col: str,
                  max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash with pigeonhole banding (full recall
    within the hamming budget — replaces the earlier top-prefix banding,
    which silently dropped pairs whose differing bits touched the
    prefix)."""
    return simhash_pairs_from_signatures(
        simhash64(df, id_col, text_col), max_hamming)


def span_dedup(df: DataFrame, id_col: str, text_col: str,
               mode: str = "paragraph", sep: str = r"\n+",
               span_tokens: int = 25) -> DataFrame:
    """Span-level corpus dedup (the C4 / "Deduplicating Training Data"
    line-dedup shape): split every document into spans, drop each span
    that already occurred earlier in the corpus (first occurrence wins,
    ordered by (id, position)), and rebuild the cleaned text.

    ``mode="paragraph"`` splits on the ``sep`` regex (newlines by
    default); ``mode="token_window"`` chunks the whitespace token stream
    into fixed non-overlapping ``span_tokens``-sized windows — the
    approximation of substring dedup that works on unstructured text.

    Returns (doc, text_clean, n_spans, n_dropped).

    Scale shape: one hash aggregation per span fingerprint (min (id,
    pos) — map-side combinable) and one fingerprint equi-join back, so
    hot boilerplate spans ride AQE's skew-join split instead of piling
    into a single window partition; then one per-doc rebuild
    aggregation. All linear in corpus size.
    """
    if mode == "paragraph":
        spans = F.split(F.col(text_col), sep)
    elif mode == "token_window":
        toks = F.split(F.col(text_col), r"\s+")
        n_chunks = F.ceil(F.size(toks) / F.lit(span_tokens)).cast("int")
        spans = F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.concat_ws(
                " ", F.slice(toks, i * span_tokens + 1, span_tokens)))
    else:
        raise ValueError(f"unknown span_dedup mode {mode!r}")

    exploded = (_spread(df)
                .select(F.col(id_col).alias("doc"),
                        F.posexplode(spans).alias("pos", "span"))
                .where(F.length("span") > 0))
    keyed = exploded.withColumn("fp", F.md5(F.col("span")))
    firsts = (keyed.groupBy("fp")
              .agg(F.min(F.struct("doc", "pos")).alias("first_at")))
    kept = (keyed.join(firsts, on="fp")
            .withColumn("_keep",
                        (F.col("doc") == F.col("first_at.doc"))
                        & (F.col("pos") == F.col("first_at.pos"))))
    sep_out = " " if mode == "token_window" else "\n"
    return (kept.groupBy("doc")
            .agg(F.concat_ws(
                     sep_out,
                     F.transform(
                         F.sort_array(F.collect_list(
                             F.when(F.col("_keep"),
                                    F.struct("pos", "span")))),
                         lambda s: s["span"])).alias("text_clean"),
                 F.count("*").cast("long").alias("n_spans"),
                 F.sum(F.when(~F.col("_keep"), 1).otherwise(0))
                  .cast("long").alias("n_dropped")))


def remove_duplicate_spans(df: DataFrame, id_col: str, text_col: str,
                           span_tokens: int = 20) -> DataFrame:
    """Exact-substring dedup, removal variant (the "Deduplicating
    Training Data Makes Language Models Better" ExactSubstr shape,
    token-level): every OVERLAPPING ``span_tokens``-token window that
    occurs ≥2 times anywhere in the corpus (other documents or a repeat
    within the same document) marks its token positions for removal;
    the cleaned text keeps the remaining tokens in order. Unlike
    ``span_dedup`` (non-overlapping windows, first occurrence wins),
    this is position-exact: ALL copies of a duplicated region are cut,
    and a region is found wherever it starts.

    Returns (doc, text_clean, n_tokens, n_removed).

    Scale shape: one overlapping-gram explode (≤ one row per token),
    one md5-fingerprint count (map-side combinable) + one equi-join
    back restricted to duplicated fingerprints, one per-doc covered-
    position aggregation (explode bounded by dup-occurrences ×
    span_tokens — duplicate density, not corpus size), and ONE
    broadcast-friendly join of the per-doc covered array back onto the
    corpus where a higher-order filter drops covered tokens without
    ever shuffling token rows. md5 (not xxhash64) keeps the
    fingerprint engine-portable for the oracle gate.
    """
    if span_tokens < 2:
        raise ValueError("span_tokens must be >= 2")
    L = span_tokens
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    base = (_spread(df)
            .select(F.col(id_col).alias("doc"), toks.alias("toks")))
    n = F.size("toks")
    starts = F.when(n >= L, F.sequence(F.lit(0), n - L)) \
              .otherwise(F.array().cast("array<int>"))
    occ = (base
           .select("doc", F.explode(F.transform(
               starts,
               lambda p: F.struct(
                   p.cast("int").alias("p"),
                   F.md5(F.concat_ws(
                       " ", F.slice(F.col("toks"), p + 1, L)))
                   .alias("fp")))).alias("o"))
           .select("doc", F.col("o.p").alias("p"),
                   F.col("o.fp").alias("fp")))
    # (r15) the duplicated-fingerprint set used to be a separate
    # count aggregate joined back onto `occ` — two full md5-window
    # explodes of the corpus (the count pass and the join probe pass).
    # A count over a window PARTITIONED BY fp does both in one shuffle
    # of a single `occ` derivation: same rows survive (occurrence
    # count ≥ 2 over the full fp partition), one corpus-side md5
    # explode instead of two (guide §2.4 — share the exchange).
    from pyspark.sql.window import Window as _W

    dup_occ = (occ.withColumn(
        "_c", F.count("*").over(_W.partitionBy("fp")))
        .where(F.col("_c") >= 2))
    cov = (dup_occ
           .select("doc", F.explode(
               F.sequence(F.col("p"), F.col("p") + F.lit(L - 1)))
               .alias("cpos"))
           .groupBy("doc")
           .agg(F.collect_set("cpos").alias("_cov")))
    kept = F.when(
        F.col("_cov").isNull(), F.col("toks")).otherwise(
        F.filter(F.col("toks"),
                 lambda t, i: ~F.array_contains(F.col("_cov"),
                                                i.cast("int"))))
    return (base.join(cov, on="doc", how="left")
            .select("doc",
                    F.concat_ws(" ", kept).alias("text_clean"),
                    F.size("toks").cast("long").alias("n_tokens"),
                    F.coalesce(F.size("_cov"), F.lit(0)).cast("long")
                    .alias("n_removed")))


def _gram_rows_batches(n: int, hashed: bool):
    """mapInArrow generator factory for :func:`ngram_contamination`:
    (doc, token array) rows → one (doc, gram) row per shingle
    OCCURRENCE. Gram strings are byte slices of the space-joined token
    buffer (`_feature_spans_np` — byte-identical to the Column
    ``shingles`` output, null/short-row fallback included); the
    ``hashed`` tier emits ``xxhash64(gram)`` straight from the
    vectorized kernel (seed 42, pinned bit-equal to the JVM
    expression) so no gram string ever crosses the boundary.

    Deliberately NO per-doc dedup (the Column form exploded
    ``array_distinct``): the consumer's final ``count_distinct(gram)``
    makes occurrence multiplicity invisible in the result — pinned by
    the contamination parity test — and an exact per-doc string dedup
    would cost a sort + byte-verify per batch for zero output effect.
    Only the hits-only groupBy shuffle sees the extra occurrences."""
    def gen(batches):
        import numpy as np
        import pyarrow as pa

        from cassandra_es_index_spark.functions.text import (
            _xxh64_bytes_prepare_np,
        )

        for batch in batches:
            ids = batch.column(0)
            tk = batch.column(1)
            buf, starts, lens, out_rows, segs = _feature_spans_np(
                np, tk, "shingle", n)
            m = starts.shape[0]
            if m == 0:
                grams = pa.array(np.empty(0, np.int64)) if hashed \
                    else pa.array([], pa.string())
                yield pa.RecordBatch.from_arrays(
                    [ids.slice(0, 0), grams], names=["doc", "gram"])
                continue
            run_sizes = np.diff(np.append(segs, m))
            docs = ids.take(pa.array(np.repeat(out_rows, run_sizes)))
            if hashed:
                h = _xxh64_bytes_prepare_np(buf, starts, lens)(42) \
                    .view(np.int64)
                yield pa.RecordBatch.from_arrays(
                    [docs, pa.array(h)], names=["doc", "gram"])
                continue
            tot = int(lens.sum())
            cums = np.cumsum(lens) - lens
            if tot:
                pos = (np.arange(tot) - np.repeat(cums, lens)
                       + np.repeat(starts, lens))
                data = buf[pos]
            else:
                data = np.empty(0, np.uint8)
            offs = np.concatenate(
                ([0], np.cumsum(lens))).astype(np.int32)
            grams = pa.Array.from_buffers(
                pa.string(), m,
                [None, pa.py_buffer(offs.tobytes()),
                 pa.py_buffer(data.tobytes())])
            yield pa.RecordBatch.from_arrays(
                [docs, grams], names=["doc", "gram"])
    return gen


def ngram_contamination(df: DataFrame, benchmark: DataFrame,
                        id_col: str, text_col: str,
                        n: int = 8, hashed: bool = True) -> DataFrame:
    """Benchmark-decontamination flagging (r11): documents sharing ≥1
    word ``n``-gram with a benchmark/eval corpus — the standard
    train-set contamination check (e.g. the 8-gram/13-gram overlap
    rules used for public-benchmark decontamination).

    Shape (r16, guide §4.2): both sides emit their shingle n-grams
    from ONE ``mapInArrow`` over (doc, tokens) — tokenization stays
    the JVM Column, the gram bytes are slices of the space-joined
    token buffer (byte-identical to ``functions.text.shingles``,
    whose zip_with chain ran interpreted per row — the r15.4 JIT-churn
    class), and the ``hashed=True`` tier hashes the slices with the
    vectorized XXH64 so no gram string crosses the boundary at all.
    The benchmark side distincts (eval sets are small) and BROADCASTS,
    so the corpus side is one map-side semi-join-shaped probe — no
    corpus shuffle at all; the only exchange is the final per-doc
    groupBy, whose input is hits-only. ``hashed=True`` joins on
    ``xxhash64(gram)`` (8 bytes instead of ~n words of string — the
    scale default); ``hashed=False`` joins on the gram strings
    (oracle-exact). Gram OCCURRENCES (not per-doc distinct sets) feed
    the join — invisible in the result, whose ``count_distinct``
    dedups; pinned by the parity test. Returns
    (doc, contaminated_ngrams = count of DISTINCT shared n-grams)."""
    from cassandra_es_index_spark.functions.text import tokens as _toks

    def grams(frame: DataFrame) -> DataFrame:
        base = _spread(frame).select(
            F.col(id_col).alias("doc"),
            _toks(F.col(text_col)).alias("_tk"))
        id_type = base.schema["doc"].dataType.simpleString()
        gram_type = "bigint" if hashed else "string"
        return base.mapInArrow(
            _gram_rows_batches(n, hashed),
            schema=f"doc {id_type}, gram {gram_type}")

    bench = grams(benchmark).select("gram").distinct()
    return (grams(df)
            .join(F.broadcast(bench), "gram")
            .groupBy("doc")
            .agg(F.count_distinct("gram").cast("long")
                  .alias("contaminated_ngrams")))


def connected_components(pairs: DataFrame, a_col: str = "doc_a",
                         b_col: str = "doc_b",
                         max_iters: int = 20) -> DataFrame:
    """Connected components of the undirected near-dup pair graph:
    (``node``, ``component``) where component = the MINIMUM node id
    reachable from the node — the canonical-representative convention
    every dedup pipeline needs one step after pair generation ("keep
    one document per duplicate cluster").

    Algorithm: iterative min-label propagation with pointer jumping
    and per-round edge contraction. Each round every node takes
    min(own label, neighbor labels), follows one label indirection
    (path halving), and the edge frontier rewrites to the LABEL graph
    (self-loops dropped, deduped); the loop stops when no label moves
    or the frontier empties. Rounds needed ≈ log of the graph
    diameter, and near-dup graphs are short-diameter by construction
    (a cluster is documents mutually similar to one near-identical
    text), so 2-4 rounds is typical; ``max_iters`` bounds pathological
    chains with a typed error rather than silently shipping a
    half-merged clustering.

    Scale shape: round 1 is ONE map-side-combinable min-aggregation
    over the edge list (labels start as identity, so no join at all);
    the contraction is one double equi-join + distinct that collapses
    clique-heavy dup graphs by orders of magnitude (measured 965k → ~0
    frontier edges after round 1 at sf0.1), so later rounds touch the
    tiny component graph only. Never a driver-side graph; per-round
    ``localCheckpoint`` keeps plan depth O(1) across iterations (the
    classic iterative-DataFrame trap).
    """
    if max_iters < 1:
        raise ValueError("max_iters must be >= 1")
    e1 = pairs.select(F.col(a_col).alias("s"), F.col(b_col).alias("d"))
    edges = e1.union(e1.select(F.col("d").alias("s"),
                               F.col("s").alias("d")))
    # EAGER input pin (r16): round 1 consumes this frame through TWO
    # union legs (neighbor-min) and the contraction joins it twice
    # more — under a LAZY pin those consumers each re-drive the whole
    # upstream pair-stage lineage (the r15.2 concurrent-consumer
    # minefield; A/B: eager read dedup_clusters_lsh 6.34 → 4.63 s
    # median, semantic_dedup 7.38 → 6.94, cold rounds ~2× better).
    # Edge lists are pair-graph-scale (never corpus text), and the
    # per-round freeing below releases the pin as soon as the first
    # contraction supersedes it, so the r15.2 eager-pin accumulation
    # tail does not apply.
    edges = edges.localCheckpoint(eager=True)
    labels = (edges.select(F.col("s").alias("node"))
              .distinct()
              .withColumn("component", F.col("node")))
    prev_merged: DataFrame | None = None
    for i in range(max_iters):
        if i == 0:
            # identity labels: neighbor-min needs no join — one
            # aggregation over (edge targets ∪ self)
            merged = (edges
                      .select(F.col("s").alias("node"),
                              F.col("d").alias("component"))
                      .union(edges.select(F.col("s").alias("node"),
                                          F.col("s").alias("component")))
                      .groupBy("node")
                      .agg(F.min("component").alias("component")))
        else:
            prop = (edges.join(labels,
                               edges["s"] == labels["node"])
                    .select(F.col("d").alias("node"), "component"))
            merged = (labels.select("node", "component").union(prop)
                      .groupBy("node")
                      .agg(F.min("component").alias("component")))
        # pointer jumping: follow one label indirection — label(v) ←
        # label(label(v)) — per round. Every component value IS a node
        # (labels start as identity and min preserves node-ness), so
        # one self-join compresses paths; with the edge contraction
        # below this is also what PULLS a contracted component's new
        # label out to its member nodes.
        # The jump checkpoint stays EAGER (r15.2 A/B): a lazy pin here
        # is consumed by the contraction's TWO exchanges (ls by s, ld
        # by d), which the scheduler runs as concurrent stages — both
        # race to compute the pinned RDD, duplicating the whole label
        # lineage (the min-prop shuffle included) instead of sharing
        # one materialization. Measured: lazy read 2-5x WORSE
        # (dedup_clusters_lsh 7.0-7.5 → 20.8-39.3 s). Eager runs the
        # label frame exactly once in its own job and every consumer
        # reads the pinned blocks.
        # (r16) the jump carries its pre-jump label as ``_old`` so the
        # round records whether the indirection moved anything — a
        # LOCAL scan of the pinned blocks, no extra job. If the
        # frontier empties below AND this round's jump was already a
        # fixpoint (label(label(x)) == label(x) pre-jump ⇒ the label
        # forest is root-pointing and the jump was an identity), the
        # whole root-jump phase is provably a no-op and is skipped —
        # one fewer join-compile + eager job + probe per CC call in
        # the common 1-2-round near-dup case.
        merged = (merged.join(
            merged.select(F.col("node").alias("component"),
                          F.col("component").alias("_c2")),
            on="component", how="left")
            .select("node", F.col("component").alias("_old"),
                    F.coalesce("_c2", "component")
                    .alias("component"))
            .localCheckpoint(eager=True))
        # (r16) the previous round's label pin is superseded the moment
        # this round's checkpoint has materialized (eager ⇒ done here):
        # every later consumer reads the NEW pin, and nothing can
        # recompute through the old one — free it now instead of
        # waiting for a session GC (verdict r15 item 5).
        release_checkpoint(prev_merged)
        prev_merged = merged
        labels = merged.select("node", "component")
        # (r15) the old per-round changed-probe (merged ⋈ labels +
        # count — one extra shuffle-join job every round) is provably
        # redundant: edges are symmetrized, so any surviving
        # cross-component edge (s, d) with label(s) ≠ label(d) exists
        # in both directions and min-propagation strictly lowers the
        # larger side's label — a nonempty frontier ALWAYS changes a
        # label, and an empty frontier is what the contraction below
        # already detects. Convergence is announced by the frontier
        # emptying, never by a label fixpoint with edges remaining.
        # edge contraction (r13): rewrite the frontier as LABEL-graph
        # edges, self-loops dropped, deduped. A near-dup graph is
        # clique-heavy (a 1k-doc dup group is ~500k pairs), so the
        # first contraction collapses the edge set by orders of
        # magnitude — measured 965k → ~0 edges after round 1 on the
        # sf0.1 dup graph — and every later round joins against the
        # tiny component graph instead of the full pair list (the
        # star-contraction idea from the large-star/small-star CC
        # algorithm, applied once per round).
        ls = labels.select(F.col("node").alias("s"),
                           F.col("component").alias("_cs"))
        ld = labels.select(F.col("node").alias("d"),
                           F.col("component").alias("_cd"))
        old_edges = edges
        edges = (edges.join(ls, "s").join(ld, "d")
                 .where(F.col("_cs") != F.col("_cd"))
                 .select(F.col("_cs").alias("s"),
                         F.col("_cd").alias("d"))
                 .distinct()
                 .localCheckpoint(eager=True))
        # the previous frontier (round 0: the symmetrized input pin) has
        # no consumer after this round's merged + contraction both
        # materialized — free it deterministically (r16)
        release_checkpoint(old_edges)
        if edges.isEmpty():
            # no cross-component edges left: jump the label forest to
            # its roots (depth halves per jump — label-frame-only work,
            # bounded by log of the forest depth ≤ max_iters).
            # (r16) if this round's own jump already moved nothing the
            # forest is root-pointing and the loop below would run one
            # provably-identity jump just to observe it — skip it with
            # a local scan of the round's pinned frame instead.
            if merged.where(F.col("component")
                            != F.col("_old")).isEmpty():
                return labels
            # (r15) the moved-probe rides the SAME checkpointed join
            # that builds the jump — `component != _old` is exactly
            # "the indirection hit a lower parent" — so each jump is
            # one materializing job plus a local scan of its output,
            # not a second shuffle-join + count job.
            for _ in range(max_iters):
                jmp = (labels.join(
                    labels.select(F.col("node").alias("component"),
                                  F.col("component").alias("_c2")),
                    on="component", how="left")
                    .select("node",
                            F.col("component").alias("_old"),
                            F.coalesce("_c2", "component")
                            .alias("component"))
                    .localCheckpoint(eager=True))
                release_checkpoint(prev_merged)  # superseded (r16)
                prev_merged = jmp
                labels = jmp.select("node", "component")
                if jmp.where(F.col("component")
                             != F.col("_old")).isEmpty():
                    return labels
            break
    raise ValueError(
        f"connected_components did not converge in {max_iters} rounds "
        "— the pair graph has a longer chain than a near-dup cluster "
        "should; raise max_iters explicitly if that is intended")


def dedup_clusters(df: DataFrame, id_col: str, pairs: DataFrame,
                   a_col: str = "doc_a", b_col: str = "doc_b",
                   max_iters: int = 20,
                   quality_col: str | None = None) -> DataFrame:
    """Cluster assignment + canonical flag for EVERY document: joins
    ``connected_components`` of the pair graph back onto the corpus —
    documents in no pair become singleton clusters of themselves —
    and flags one keeper per cluster. Output: (id_col, cluster, keep).
    ``df.where(~keep)`` is the drop list; one broadcast-friendly left
    join over the corpus (the component frame is bounded by
    documents-in-pairs, typically a small fraction).

    Keeper selection: the cluster-minimum id by default; with
    ``quality_col`` the cluster's HIGHEST-quality document keeps (ties
    by id DESC — deterministic for any orderable id type; null quality
    sorts below every value), the convention real pipelines use
    ("keep the best copy, not the first crawled"). The argmax is one
    extra map-side-combinable max_by aggregation over the clustered
    rows, bounded by documents-in-pairs."""
    cc = connected_components(pairs, a_col, b_col, max_iters)
    out = (df.select(F.col(id_col), *([quality_col] if quality_col
                                      else []))
           .join(cc.withColumnRenamed("node", id_col), on=id_col,
                 how="left")
           .withColumn("cluster", F.coalesce("component",
                                             F.col(id_col)))
           .drop("component"))
    if quality_col is None:
        return out.withColumn("keep",
                              F.col("cluster") == F.col(id_col))
    # argmax quality per cluster, ties id desc: max_by over a
    # (quality, id)-ordered struct — works for any orderable id type,
    # null quality sorts below every value
    best = (out.groupBy("cluster")
            .agg(F.max_by(
                F.col(id_col),
                F.struct(F.col(quality_col).alias("q"),
                         F.col(id_col).alias("i"))).alias("_best")))
    return (out.join(best, on="cluster", how="left")
            .withColumn("keep", F.col(id_col) == F.col("_best"))
            .drop("_best", quality_col))


def minhash_lsh_star_edges(df: DataFrame, id_col: str, text_col: str,
                           num_hashes: int = 32, bands: int = 8,
                           shingle_n: int = 3,
                           unit: str = "shingle") -> DataFrame:
    """LINEAR near-dup graph edges for clustering: each LSH band
    bucket contributes a STAR — every member connects to the bucket's
    minimum doc id — instead of the bucket's all-pairs clique. A
    1,000-doc duplicate bucket is 999 star edges where the pair miner
    emits ~500k; connectivity (what ``connected_components`` needs) is
    identical, because a star spans exactly the same bucket. Output:
    (doc_a = hub, doc_b = member) distinct edges — feed straight into
    ``dedup_clusters``.

    This is the 100 TB clustering path: pair enumeration is inherently
    quadratic in duplicate-cluster size, star edges are linear in
    docs × bands. Recall is the LSH band recall (probabilistic, same
    as ``minhash_lsh_pairs``); precision is whatever the band key
    gives — for keep/drop decisions at threshold-level precision run
    the pair miner with ``verify="exact"`` on the (small) surviving
    clusters instead."""
    rows_per_band = _lsh_rows_per_band(num_hashes, bands)
    # (r15) band_keys feeds both the hub aggregation and the member
    # join — pin the signatures once so the corpus-side tokenize+hash
    # aggregation is not executed twice (same ReusedExchange gap as
    # minhash_lsh_pairs; guide §2.4). Lazy for the same A/B reason as
    # minhash_lsh_pairs (r15.2).
    sigs = minhash_signature(df, id_col, text_col, num_hashes,
                             shingle_n, unit).localCheckpoint(eager=False)
    band_keys = sigs.select(
        "doc",
        F.explode(_band_keys_expr(bands, rows_per_band)).alias("bk"),
    ).select("doc", F.col("bk.band").alias("band"),
             F.col("bk.key").alias("key"))
    hubs = (band_keys.groupBy("band", "key")
            .agg(F.min("doc").alias("hub")))
    return (band_keys.join(hubs, on=["band", "key"])
            .where(F.col("doc") != F.col("hub"))
            .select(F.col("hub").alias("doc_a"),
                    F.col("doc").alias("doc_b"))
            .distinct())


# --------------------------------------------------------------------------
# incremental (cross-snapshot) dedup — Bloom prefilter + exact verification
# --------------------------------------------------------------------------


def _bloom_positions(col, num_bits: int, num_hashes: int):
    """array<long> of the value's Bloom bit positions: ``num_hashes``
    independent xxhash64 streams (the seed ordinal is folded into the
    hash input), each reduced mod ``num_bits``."""
    return F.array(*[
        F.pmod(F.xxhash64(col, F.lit(i)), F.lit(num_bits))
        for i in range(num_hashes)])


def _bloom_params(num_bits: int, num_hashes: int) -> None:
    if not isinstance(num_bits, int) or num_bits < 8:
        raise ValueError(f"num_bits must be an integer >= 8, "
                         f"got {num_bits!r}")
    if not isinstance(num_hashes, int) or not 1 <= num_hashes <= 16:
        raise ValueError(f"num_hashes must be an integer in [1, 16], "
                         f"got {num_hashes!r}")


def bloom_build(seen_df: DataFrame, text_col: str,
                num_bits: int = 1 << 22,
                num_hashes: int = 5) -> DataFrame:
    """The seen corpus's Bloom filter as a SPARSE frame of distinct
    set-bit positions — one ``pos`` (long) row per set bit, bounded by
    ``min(num_bits, num_hashes × n_docs)`` rows.

    Membership hashes over the normalized-text ``fingerprint`` (the
    exact-dedup key), so Bloom candidacy and exact verification agree
    on normalization. The corpus is scanned once and never shuffled
    wide: ``distinct`` on a single long column partial-aggregates
    map-side, so the shuffle carries at most ``num_bits`` values per
    input partition regardless of corpus size. Persist the result as
    the snapshot artifact and pass it to ``incremental_dedup`` —
    building once per snapshot and probing per batch is the
    cross-snapshot shape."""
    _bloom_params(num_bits, num_hashes)
    fp = F.coalesce(fingerprint(F.col(text_col)), F.lit(""))
    return (seen_df
            .select(F.explode(_bloom_positions(
                fp, num_bits, num_hashes)).alias("pos"))
            .distinct())


def incremental_dedup(new_df: DataFrame, seen_df: DataFrame,
                      id_col: str, text_col: str,
                      num_bits: int = 1 << 22, num_hashes: int = 5,
                      verify: bool = True,
                      bloom: DataFrame | None = None) -> DataFrame:
    """Drop rows of ``new_df`` whose (normalized) text already appears
    in ``seen_df`` — dedup of a new crawl batch against a seen corpus
    WITHOUT shuffling the corpus.

    Shape (the 100 TB path): the corpus collapses to a broadcastable
    sparse Bloom frame (``bloom_build``; pass ``bloom=`` to reuse a
    persisted snapshot filter). Each new doc probes it with one
    broadcast join over its exploded bit positions; a doc is a
    candidate only when ALL its positions hit. With ``verify=True``
    (default) candidate fingerprints — true dups plus the Bloom's
    ~(1-e^(-kn/m))^k false-positive sliver, a tiny frame — are
    broadcast against one more corpus scan, so the final anti-join is
    EXACT: the Bloom is purely a pruning device and false positives
    cost a re-check, never a dropped doc. ``verify=False`` skips the
    second scan and accepts the documented false-positive drops
    (approximate tier, like the LSH family).

    The seen corpus is scanned once (twice with verify), never
    shuffled; only the new batch — the small side by construction —
    shuffles, and only for its per-doc hit count."""
    _bloom_params(num_bits, num_hashes)
    if bloom is None:
        bloom = bloom_build(seen_df, text_col, num_bits, num_hashes)
    fp = F.coalesce(fingerprint(F.col(text_col)), F.lit(""))
    new_fp = new_df.withColumn("_fp", fp)
    probes = (new_fp
              .select(id_col, "_fp",
                      F.array_distinct(_bloom_positions(
                          F.col("_fp"), num_bits,
                          num_hashes)).alias("_ps"))
              .select(id_col, "_fp", F.size("_ps").alias("_n"),
                      F.explode("_ps").alias("pos")))
    cand = (probes.join(F.broadcast(bloom), "pos")
            .groupBy(id_col, "_fp", "_n")
            .agg(F.count("*").alias("_hits"))
            .where(F.col("_hits") == F.col("_n")))
    if not verify:
        return (new_fp.join(cand.select(id_col), id_col, "left_anti")
                .drop("_fp"))
    cand_fp = cand.select("_fp").distinct()
    seen_dup_fp = (seen_df
                   .select(F.coalesce(fingerprint(F.col(text_col)),
                                      F.lit("")).alias("_fp"))
                   .join(F.broadcast(cand_fp), "_fp", "left_semi")
                   .distinct())
    return (new_fp.join(F.broadcast(seen_dup_fp), "_fp", "left_anti")
            .drop("_fp"))
