"""LLM-data-pipeline operator pack: deduplication (exact, MinHash-LSH,
SimHash, n-gram Jaccard, embedding-cosine), similarity search
(brute-force + hyperplane-LSH ANN), and text analysis — all over the
driver's `documents` / `embeddings` tables.

No reference counterpart (the reference is a billing batch); this pack
is the brief's first-class extension surface.  Everything is built from
pyspark.sql.functions built-ins (higher-order array functions, xxhash64)
— no Python UDFs — so the whole pack stays JVM-side and Catalyst keeps
pushdown/codegen.

Scale notes per operator:
* exact dedup          — hash groupBy on the dedup key: one shuffle.
* MinHash-LSH near-dup — ONE banded pipeline: shingle sets, signatures
  via one explode+groupBy (map-side partial min), candidates via an
  equi-join on (band_idx, band_key) buckets, exact Jaccard verify.
  NO all-pairs crossJoin anywhere; cost is O(sum of bucket^2) which
  the band/row parameters keep tiny.  Two hash families run it and
  differ only in the per-shingle hash: xxhash64 (fastest) and a
  portable md5 + mod-p family DuckDB reproduces bit for bit.
* SimHash              — one explode+groupBy producing a 64-bit
  (xxhash64) or 60-bit (portable) fingerprint; near-dup candidates via
  16-bit chunk buckets (pigeonhole: hamming<=3 pairs share at least
  one of 4 chunks).
* ANN                  — brute-force top-k is a broadcast of the (few)
  query vectors over the corpus: embarrassingly parallel, no shuffle of
  the corpus; the LSH variant buckets by hyperplane signs first so the
  per-bucket work is corpus/2^planes.
"""

from __future__ import annotations

import math
import operator
from functools import reduce
from typing import Callable, Iterator, NamedTuple

import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pixelspark.metrics import observed_long

# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"  # BPE-ish pre-tokenizer classes

STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "on", "for", "with"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "auf", "ein", "zu"],
    "fr": ["le", "la", "les", "et", "est", "de", "un", "une", "dans", "pour"],
    "es": ["el", "la", "los", "y", "es", "de", "un", "una", "en", "por"],
}


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def spread(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Ensure CPU-dense text kernels get full parallelism.

    These kernels (shingling, hashing, signature aggregation) are
    bottlenecked by SPLIT COUNT, not bytes: a corpus that fits one
    parquet split arrives as ONE task and serializes the whole kernel
    on a single core (measured: the sf0.1 minhash pipeline is 2.2x
    faster after splitting — file-split knobs can't help because a
    single row group is unsplittable).  Repartition up to the default
    parallelism only when the input has fewer splits; at 100 TB the
    file count far exceeds the core count and this is a no-op."""
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def normalize_text(col: Column | str) -> Column:
    """Canonical form for dedup/fingerprinting: lowercase, strip
    non-alphanumerics, collapse whitespace."""
    c = F.lower(_c(col))
    c = F.regexp_replace(c, r"[^a-z0-9\s]", " ")
    c = F.regexp_replace(c, r"\s+", " ")
    return F.trim(c)


def tokens(col: Column | str) -> Column:
    """Whitespace tokens of trimmed text (empty text -> empty array)."""
    t = F.trim(_c(col))
    return F.when(t == "", F.array().cast("array<string>")).otherwise(F.split(t, r"\s+"))


def token_count_regex(col: Column | str) -> Column:
    """Sub-word-ish token count: letters / digits / punctuation runs."""
    return F.size(F.regexp_extract_all(_c(col), F.lit(TOKEN_RE), F.lit(0)))


def fingerprint(col: Column | str) -> Column:
    """Document fingerprint: md5 of the normalized text (stable across
    engines — DuckDB md5 produces the same hex)."""
    return F.md5(normalize_text(col))


def text_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality stats: token count, distinct tokens,
    char length, avg token length, stopword ratio (ANSI-safe division)."""
    toks = tokens(text_col)
    n_tokens = F.size(toks)
    distinct_tokens = F.size(F.array_distinct(toks))
    n_chars_calc = F.length(_c(text_col))
    sw = F.array([F.lit(w) for w in STOPWORDS["en"]])
    n_stop = F.size(F.array_intersect(toks, sw))  # distinct-stopword hits
    safe_n = F.nullif(n_tokens.cast("double"), F.lit(0.0))
    return docs.select(
        "doc_id",
        n_chars_calc.alias("n_chars_calc"),
        n_tokens.alias("n_tokens"),
        distinct_tokens.alias("n_distinct_tokens"),
        F.round((n_chars_calc.cast("double") / safe_n), 6).alias("chars_per_token"),
        F.round(distinct_tokens.cast("double") / safe_n, 6).alias("distinct_ratio"),
        n_stop.alias("n_stopword_kinds"),
    )


def gopher_quality(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 5,
    max_words: int = 100_000,
    mean_len_lo: float = 3.0,
    mean_len_hi: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_frac: float = 0.8,
    min_stop_kinds: int = 2,
) -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021,
    arXiv:2112.11446 table A1), as pure column expressions — one
    projection, no shuffle, no Python: word-count band, mean word
    length band, symbol-to-word ratio (# and ellipsis), fraction of
    words containing an alphabetic character, distinct-stopword
    presence.  The thresholds default to the published values scaled
    for short test docs (min_words).

    Emits the per-rule measurements AND booleans plus the conjunction
    (`passes`), so a curation pipeline can both filter and report
    per-rule rejection rates from the same single-pass projection."""
    toks = tokens(text_col)
    n_words = F.size(toks)
    safe_n = F.nullif(n_words.cast("double"), F.lit(0.0))
    mean_len = F.round(
        F.aggregate(
            toks, F.lit(0.0), lambda acc, t: acc + F.length(t).cast("double")
        ) / safe_n,
        6,
    )
    n_symbols = (
        F.size(F.filter(toks, lambda t: t.contains("#")))
        + F.size(F.filter(toks, lambda t: t.contains("...")))
    )
    symbol_ratio = F.round(n_symbols.cast("double") / safe_n, 6)
    alpha_frac = F.round(
        F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]"))).cast("double")
        / safe_n,
        6,
    )
    sw = F.array([F.lit(w) for w in STOPWORDS["en"]])
    stop_kinds = F.size(F.array_intersect(F.transform(toks, F.lower), sw))
    r_words = (n_words >= min_words) & (n_words <= max_words)
    r_len = (mean_len >= mean_len_lo) & (mean_len <= mean_len_hi)
    r_sym = symbol_ratio <= max_symbol_ratio
    r_alpha = alpha_frac >= min_alpha_frac
    r_stop = stop_kinds >= min_stop_kinds
    return docs.select(
        F.col(id_col),
        n_words.alias("n_words"),
        mean_len.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        alpha_frac.alias("alpha_frac"),
        stop_kinds.alias("stop_kinds"),
        r_words.alias("ok_words"),
        r_len.alias("ok_mean_len"),
        r_sym.alias("ok_symbols"),
        r_alpha.alias("ok_alpha"),
        r_stop.alias("ok_stopwords"),
        (r_words & r_len & r_sym & r_alpha & r_stop).alias("passes"),
    )


def ngram_rows(
    docs: DataFrame, n: int, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, gram) rows — every consecutive whitespace-token n-gram.
    Generated as one array transform + explode (JVM-side, no Python);
    a doc with fewer than n tokens contributes nothing."""
    tr = docs.select(F.col(id_col), tokens(text_col).alias("toks")).where(
        F.size("toks") >= n
    )
    idx = F.sequence(F.lit(1), F.size("toks") - (n - 1))
    gram = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(F.col("toks"), i + k) for k in range(n)]
        ),
    )
    return tr.select(F.col(id_col), F.explode(gram).alias("gram"))


def repetition_signals(
    docs: DataFrame,
    ns: tuple[int, ...] = (2, 3),
    id_col: str = "doc_id",
    text_col: str = "text",
    top_thresholds: dict[int, float] | None = None,
) -> DataFrame:
    """Within-document repetition quality signals (Gopher, Rae et al.
    2021 arXiv:2112.11446 table A1 "repetition" rules, as used by
    MassiveText/RefinedWeb): for each n in `ns`, the fraction of the
    document's n-grams accounted for by its single most frequent
    n-gram (`top{n}_frac`) and the fraction that are duplicate
    occurrences (`dup{n}_frac` = sum(count-1)/total).  A document
    caught in a template/boilerplate loop scores high on both long
    before exact-dedup would catch it.

    `passes_repetition` applies the published top-n-gram thresholds
    (default: 2-gram 0.20, 3-gram 0.18 — Gopher's values).

    Complements `ngram_repetition` (the shuffle-free array-only
    dup-fraction for one n): the TOP-n-gram fraction needs per-gram
    occurrence counts, and counting inside the array would be
    O(distinct·len) per row — quadratic for long documents — so this
    op takes the explode + partial-agg route instead, linear in
    corpus size.  Scale shape per n: one partial-aggregated shuffle
    on (doc, gram) then one on doc — both keyed by doc id, no global
    funnel; the ns are independent branches joined on the doc id.
    Docs shorter than n tokens emit NULL fractions (no n-grams -> no
    signal) and pass by default."""
    thresholds = {2: 0.20, 3: 0.18}
    if top_thresholds:
        thresholds.update(top_thresholds)
    # tokenize ONCE and share the token arrays across every n branch
    # (r12; guide §1.2): each branch previously re-scanned and
    # re-tokenized the corpus to build its grams — the regex split is
    # the dominant per-row cost, identical for every n.
    tr = docs.select(F.col(id_col), tokens(text_col).alias("toks")).localCheckpoint(
        eager=False
    )

    # Per-n independent branches over the shared token arrays.  A
    # gram-size-TAGGED single-stream variant (one explode of (n, gram)
    # structs, two aggregations, one join) was A/B'd in r13 and LOSES
    # ~20% at sf0.1 and ~45% at 10x SF: the dominant shuffle — the
    # (doc, gram) occurrence stream — is byte-identical in both shapes
    # (the tag merges three exchanges into one of 3x the rows), so the
    # "saved" shuffles never existed, while the struct-tagging explode
    # is heavier per row and the independent branch subtrees lose
    # their concurrent-stage scheduling.
    out = tr.select(F.col(id_col))
    pass_cond = F.lit(True)

    def _gram_expr(n: int) -> Column:
        idx = F.sequence(F.lit(1), F.size("toks") - (n - 1))
        return F.transform(
            idx,
            lambda i: F.concat_ws(
                " ", *[F.element_at(F.col("toks"), i + k) for k in range(n)]
            ),
        )

    for n in ns:
        gram = _gram_expr(n)
        per_gram = (
            tr.where(F.size("toks") >= n)
            .select(F.col(id_col), F.explode(gram).alias("gram"))
            .groupBy(id_col, "gram")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        per_doc = per_gram.groupBy(id_col).agg(
            F.sum("c").cast("long").alias(f"n_{n}grams"),
            F.round(F.max("c").cast("double") / F.sum("c"), 6).alias(
                f"top{n}_frac"
            ),
            F.round(
                (F.sum("c") - F.count(F.lit(1))).cast("double") / F.sum("c"), 6
            ).alias(f"dup{n}_frac"),
        )
        out = out.join(per_doc, id_col, "left")
        if n in thresholds:
            pass_cond = pass_cond & (
                F.coalesce(
                    F.col(f"top{n}_frac") <= F.lit(float(thresholds[n])),
                    F.lit(True),
                )
            )
    return out.withColumn("passes_repetition", pass_cond)


def lang_score(col: Column | str, lang: str) -> Column:
    """Stopword-hit count for one language (n-gram-free heuristic)."""
    sw = F.array([F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.array_intersect(tokens(col), sw))


def _doc_bigrams(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, w1, w2) rows — consecutive whitespace-token pairs."""
    tr = docs.select(F.col(id_col), tokens(text_col).alias("toks"))
    return tr.where(F.size("toks") >= 2).select(
        F.col(id_col),
        F.explode(
            F.zip_with(
                F.slice("toks", 1, F.size("toks") - 1),
                F.slice("toks", 2, F.size("toks") - 1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("p"),
    ).select(id_col, "p.w1", "p.w2")


def bigram_lm_score(
    train: DataFrame,
    score: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    backoff: float = 0.4,
) -> DataFrame:
    """Score documents under a bigram LM fitted on a SEPARATE training
    corpus, with stupid backoff (Brants et al., EMNLP'07 — the
    web-scale scoring rule with no discounting hyperparameters):

        p(w2|w1) = c(w1 w2) / c(w1)          if the bigram was seen,
                   backoff * c'(w2) / N      otherwise,

    where c'(w2) = c(w2) + 1 (add-one floor so held-out words unseen
    in training still score finitely).  Returns (id, n_bigrams,
    avg_neg_logprob) — lower = more natural under the training
    distribution.  Plan: two count aggregates over the training
    corpus (map-side partial), both broadcast onto the scored
    corpus's bigram stream, one groupBy(doc); the scored corpus is
    never shuffled except on its own doc ids."""
    t_bi = _doc_bigrams(train, id_col, text_col)
    vocab = (
        train.select(F.explode(tokens(text_col)).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    total = vocab.agg(F.sum("tf").cast("long").alias("n"))
    bc = t_bi.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("bf")
    )
    s_bi = _doc_bigrams(score, id_col, text_col)
    v1 = vocab.select(F.col("tok").alias("w1"), F.col("tf").alias("tf1"))
    v2 = vocab.select(F.col("tok").alias("w2"), F.col("tf").alias("tf2"))
    joined = (
        s_bi.join(F.broadcast(bc), ["w1", "w2"], "left")
        .join(F.broadcast(v1), "w1", "left")
        .join(F.broadcast(v2), "w2", "left")
        .crossJoin(F.broadcast(total))
    )
    lp = F.when(
        F.col("bf").isNotNull(),
        F.log(F.col("bf").cast("double") / F.col("tf1")),
    ).otherwise(
        F.log(
            F.lit(backoff)
            * (F.coalesce(F.col("tf2"), F.lit(0)) + 1)
            / F.col("n").cast("double")
        )
    )
    return joined.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.avg(-lp).alias("avg_neg_logprob"),
    )


def lang_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic language ID: argmax of per-language stopword hits,
    ties broken by language code order, no hits -> 'und'."""
    scored = docs.select(
        "doc_id",
        *[lang_score(text_col, lg).alias(f"score_{lg}") for lg in sorted(STOPWORDS)],
    )
    best = F.greatest(*[F.col(f"score_{lg}") for lg in sorted(STOPWORDS)])
    pred = F.lit("und")
    for lg in sorted(STOPWORDS, reverse=True):
        pred = F.when((best > 0) & (F.col(f"score_{lg}") == best), F.lit(lg)).otherwise(pred)
    return scored.withColumn("pred_lang", pred)


# ---------------------------------------------------------------------------
# deduplication
# ---------------------------------------------------------------------------

def exact_dedup(docs: DataFrame, key: Column | str = "text") -> DataFrame:
    """Exact dedup via hash groupBy: one representative (min doc_id)
    per key + the duplicate count."""
    return docs.groupBy(_c(key).alias("dedup_key")).agg(
        F.min("doc_id").alias("keep_id"),
        F.count(F.lit(1)).alias("copies"),
    )


def word_shingles(toks: Column, k: int = 3) -> Column:
    """k-word shingles from a token array.  Docs shorter than k yield
    one shingle of the whole doc so they still get a signature;
    ZERO-token docs (empty/whitespace text) yield NO shingles, which
    excludes them from near-dup pair generation entirely — set
    similarity over empty sets is undefined, exact dedup owns the
    empty-doc class, and at corpus scale a million empty docs must
    not become a half-trillion quadratic 'near-dup' pairs (r12 shape
    fuzz: the DuckDB oracles agree, reaching the same exclusion
    through SQL NULL propagation on empty-array slices)."""
    n = F.greatest(F.size(toks) - F.lit(k - 1), F.lit(1))
    # size(NULL) is NULL (or -1 under legacy sizeOfNull): coalesce so
    # NULL-text docs (no token array at all) take the empty branch
    # instead of falling through `when` to a [''] whole-doc shingle
    return F.when(
        F.coalesce(F.size(toks), F.lit(0)) <= 0,
        F.array().cast("array<string>"),
    ).otherwise(
        F.transform(
            F.sequence(F.lit(0), n - 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)),
        )
    )


# ---------------------------------------------------------------------------
# MinHash-LSH and SimHash: one pipeline, two hash families
# ---------------------------------------------------------------------------
#
# Near-dup detection is ONE pipeline: shingle sets -> signatures -> band
# buckets -> optional hot-bucket cap -> banded candidate join -> exact
# Jaccard verification.  The hash family is the only part that differs:
#   * xxhash64 (near_dup_pairs, minhash_signatures, simhash64): the
#     fastest JVM-side hash, mh_j = min(xxhash64(xxhash64(shingle), j)).
#     It exists in no other engine, so these outputs are checked
#     rows-only.
#   * portable (portable_near_dup_pairs, cross_corpus_near_dup,
#     DedupIndex, portable_simhash): md5 + mod-p universal hashing that
#     DuckDB computes bit for bit, so the oracles check the pipeline
#     value for value:
#       h    = int(first 15 hex chars of md5(s), 16)   (< 2^60)
#       mh_j = (A_j * (h mod p) + B_j) mod p,  p = 2^31 - 1
#     Products stay < 2^62, so no engine hits integer overflow.
MERSENNE_P = 2_147_483_647


def _portable_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    coeffs = []
    a, b = 1, 0
    for j in range(num_hashes):
        a = (a * 7919 + 104729) % MERSENNE_P or 1
        b = (b * 104729 + 7919) % MERSENNE_P
        coeffs.append((a, b))
    return coeffs


def _md5_60(s: Column) -> Column:
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")


class _HashFamily(NamedTuple):
    hash: Callable[[Column], Column]  # string -> bigint
    bits: int  # SimHash fingerprint width: the low bits `hash` fills
    # hash(shingle) -> the num_hashes permuted values MinHash takes the min of
    minhashes: Callable[[Column, int], list[Column]]


_XXHASH = _HashFamily(
    F.xxhash64, 64, lambda h, n: [F.xxhash64(h, F.lit(j)) for j in range(n)]
)
_PORTABLE = _HashFamily(
    _md5_60,
    60,
    lambda h, n: [
        (F.lit(a) * (h % MERSENNE_P) + F.lit(b)) % MERSENNE_P
        for a, b in _portable_coeffs(n)
    ],
)

# bucket key of one LSH band: the band's signature values joined by
# "_" — exact (a band collision is a real match, never a hash
# collision), and the same string the DuckDB oracles and the stored
# DedupIndex bucket table use
_BAND = ["band_idx", "band_key"]


def _shingle_sets(
    docs: DataFrame, id_col: str, text_col: str, shingle_k: int
) -> DataFrame:
    """(id, shset) — each document's DISTINCT k-shingle set, the one
    artifact both signatures and Jaccard verification read.  min()
    over the distinct set equals min() over the multiset, so hashing
    each distinct shingle once is free."""
    return spread(docs).select(
        F.col(id_col),
        F.array_distinct(word_shingles(tokens(text_col), shingle_k)).alias("shset"),
    )


def _signatures(
    shingle_sets: DataFrame, id_col: str, num_hashes: int, family: _HashFamily
) -> DataFrame:
    """(id, mh_0 .. mh_{num_hashes-1}): explode the shingles once and
    take every per-permutation min in a single groupBy (partial
    aggregation makes it one map-combined shuffle).  Each shingle
    string is hashed ONCE and the permutations derive from that 8-byte
    value — string hashing dominates the cost, so this is ~num_hashes
    x cheaper than num_hashes seeded string hashes."""
    perms = family.minhashes(F.col("h0"), num_hashes)
    return (
        shingle_sets.select(F.col(id_col), F.explode("shset").alias("shingle"))
        .select(F.col(id_col), family.hash(F.col("shingle")).alias("h0"))
        .groupBy(id_col)
        .agg(*[F.min(p).alias(f"mh_{j}") for j, p in enumerate(perms)])
    )


def _band_buckets(
    sigs: DataFrame, id_col: str, bands: int, rows_per_band: int
) -> DataFrame:
    """(id, band_idx, band_key): one bucket row per document and band."""
    keys = F.array(
        *[
            F.concat_ws(
                "_", *[F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]
            )
            for b in range(bands)
        ]
    )
    return sigs.select(F.col(id_col), F.posexplode(keys).alias("band_idx", "band_key"))


def _capped(buckets: DataFrame, keys: list[str], max_size: int | None) -> DataFrame:
    """The 100-TB hot-bucket guard: drop the rows of every bucket (one
    `keys` group) holding more than `max_size` rows; None keeps all.
    Candidate count inside a bucket is quadratic in its size, and real
    corpora have pathological buckets (boilerplate headers, templated
    pages) that would turn the bucket equi-join into an accidental
    cross join.  The survivor list is one row per bucket, semi-joined
    on the same key the candidate join shuffles on."""
    if max_size is None:
        return buckets
    ok = (
        buckets.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("__bsz"))
        .where(F.col("__bsz") <= max_size)
        .drop("__bsz")
    )
    return buckets.join(ok, keys, "left_semi")


def _candidate_pairs(
    a: DataFrame,
    b: DataFrame | None,
    keys: list[str],
    id_col: str,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """The banded candidate join: distinct (id_a, id_b) of bucket rows
    of `a` and `b` that share a `keys` bucket, plus each side's `carry`
    columns as <col>_a / <col>_b.  `b=None` joins `a` with itself and
    keeps each unordered pair once (id_a < id_b).  An equi-join, never
    an all-pairs product: cost is O(sum of bucket^2)."""
    on = [F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys]
    if b is None:
        b = a
        on.append(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    cols = [F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")]
    cols += [F.col(f"{s}.{c}").alias(f"{c}_{s}") for c in carry for s in "ab"]
    return a.alias("a").join(b.alias("b"), on).select(*cols).distinct()


def _verified(
    cands: DataFrame,
    sets_a: DataFrame,
    sets_b: DataFrame,
    id_col: str,
    threshold: float,
) -> DataFrame:
    """(id_a, id_b, jaccard) of the candidates whose exact shingle-set
    Jaccard is >= threshold.  Verification reads the SAME k-shingle
    space the signatures hash — MinHash estimates shingle-set Jaccard,
    so verifying on another token space would filter with an
    unrelated similarity."""
    return (
        cands.join(sets_a.select(F.col(id_col).alias("id_a"), F.col("shset").alias("sh_a")), "id_a")
        .join(sets_b.select(F.col(id_col).alias("id_b"), F.col("shset").alias("sh_b")), "id_b")
        .select("id_a", "id_b", jaccard(F.col("sh_a"), F.col("sh_b")).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def _near_dup_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    num_hashes: int,
    shingle_k: int,
    bands: int,
    max_bucket_size: int | None,
    family: _HashFamily,
) -> DataFrame:
    """The within-corpus pipeline both families run.

    The shingle sets are computed ONCE and materialized (lazy
    localCheckpoint): the signature explode and both verification
    joins read the stored arrays (~40% faster than recomputing the
    shingling; localCheckpoint persists MEMORY_AND_DISK so the reuse
    survives executor memory pressure at scale).  The signatures are
    materialized too, so the bucket self-join reads one computed stage
    instead of re-running the explode+hash+groupBy per join side.
    localCheckpoint rather than .cache() (r12): CacheManager matches
    cached plans globally, so a second identical invocation — e.g. a
    later bench pass — would silently read the first invocation's
    blocks instead of recomputing; checkpoint blocks are scoped to
    this DataFrame."""
    sets = _shingle_sets(docs, id_col, text_col, shingle_k).localCheckpoint(eager=False)
    sigs = _signatures(sets, id_col, num_hashes, family).localCheckpoint(eager=False)
    cands = lsh_candidate_pairs(sigs, id_col, bands, num_hashes // bands, max_bucket_size)
    return _verified(cands, sets, sets, id_col, threshold)


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    shingle_k: int = 3,
) -> DataFrame:
    """MinHash signature (mh_0 .. mh_{num_hashes-1}) per document on the
    xxhash64 family."""
    return _signatures(
        _shingle_sets(docs, id_col, text_col, shingle_k), id_col, num_hashes, _XXHASH
    )


def portable_minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    shingle_k: int = 3,
) -> DataFrame:
    """MinHash signatures on the portable (md5, mod-p) family."""
    return _signatures(
        _shingle_sets(docs, id_col, text_col, shingle_k), id_col, num_hashes, _PORTABLE
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    bands: int = 8,
    rows_per_band: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Banded LSH over a signature table of either family: split each
    signature into `bands` bands of `rows_per_band` values, bucket-join
    on (band_idx, band_key), emit unordered candidate pairs (a < b).
    These are exactly the candidates near_dup_pairs and
    portable_near_dup_pairs verify.

    `max_bucket_size` is the opt-in hot-bucket guard (see _capped):
    buckets above the cap are DROPPED before the join — standard LSH
    practice, since a bucket that common is boilerplate, not
    near-duplication, and its members still pair in their other bands
    when genuinely similar.  The cap bounds worst-case join output at
    buckets x cap^2 regardless of input skew.  None (default) keeps
    exact parity with the cross-engine oracles; production callers at
    scale should set it."""
    buckets = _capped(
        _band_buckets(signatures, id_col, bands, rows_per_band), _BAND, max_bucket_size
    )
    return _candidate_pairs(buckets, None, _BAND, id_col)


def jaccard(tok_a: Column, tok_b: Column) -> Column:
    """Token-set Jaccard similarity (ANSI-safe on empty union)."""
    inter = F.size(F.array_intersect(tok_a, tok_b)).cast("double")
    union = F.size(F.array_union(tok_a, tok_b)).cast("double")
    return F.round(inter / F.nullif(union, F.lit(0.0)), 6)


def near_dup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    num_hashes: int = 32,
    shingle_k: int = 3,
    bands: int = 8,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs on the xxhash64 family:
    signatures -> banded candidates -> exact Jaccard verification
    >= threshold, as (id_a < id_b, jaccard).  `max_bucket_size`
    forwards to lsh_candidate_pairs (hot-bucket guard for skewed
    corpora; None keeps oracle parity)."""
    return _near_dup_pairs(
        docs, id_col, text_col, threshold, num_hashes, shingle_k, bands,
        max_bucket_size, _XXHASH,
    )


def portable_near_dup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    num_hashes: int = 32,
    shingle_k: int = 3,
    bands: int = 8,
) -> DataFrame:
    """near_dup_pairs on the portable (md5, mod-p) family: signatures,
    banding, candidates AND verification are reproducible in DuckDB,
    so the driver's oracle checks the pipeline value for value."""
    return _near_dup_pairs(
        docs, id_col, text_col, threshold, num_hashes, shingle_k, bands,
        None, _PORTABLE,
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.3,
    max_id: int | None = None,
    max_rows: int = 10_000,
) -> DataFrame:
    """Exact n-gram (word) Jaccard for all pairs in a bounded id range —
    the exact-answer baseline the LSH path approximates.  The optional
    max_id bound keeps the quadratic pair space explicit and testable;
    at scale use near_dup_pairs instead.

    MECHANICAL GUARD (same posture as inlist_pushdown_join.max_keys):
    the input row count is checked against `max_rows` before the
    quadratic join is planned — `max_id=None` on a large corpus raises
    instead of silently planning an O(n²) cross join."""
    d = docs if max_id is None else docs.where(F.col(id_col) < max_id)
    n_rows = d.count()
    if n_rows > max_rows:
        raise ValueError(
            f"ngram_jaccard_pairs is a quadratic exact baseline: {n_rows} input "
            f"rows exceeds max_rows={max_rows} (~{n_rows * (n_rows - 1) // 2:,} "
            "pairs) — bound the input with max_id/max_rows or use the bucketed "
            "near_dup_pairs / minhash_lsh_pairs path"
        )
    grams = _shingle_sets(d, id_col, text_col, n)
    a = grams.select(F.col(id_col).alias("id_a"), F.col("shset").alias("g_a"))
    b = grams.select(F.col(id_col).alias("id_b"), F.col("shset").alias("g_b"))
    return (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", jaccard(F.col("g_a"), F.col("g_b")).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def quality_expr(text_col: str = "text") -> Column:
    """Composite quality score in [0,1] as a pure column expression
    (length band, type-token ratio, stopword presence) — usable both
    as a projected score and as an inline filter without a join."""
    toks = tokens(text_col)
    n_tokens = F.size(toks)
    distinct_ratio = F.size(F.array_distinct(toks)).cast("double") / F.nullif(
        n_tokens.cast("double"), F.lit(0.0)
    )
    sw = F.array([F.lit(w) for w in STOPWORDS["en"]])
    has_stop = (F.size(F.array_intersect(toks, sw)) > 0).cast("double")
    len_ok = ((n_tokens >= 10) & (n_tokens <= 5000)).cast("double")
    return F.round(
        0.4 * len_ok + 0.4 * F.coalesce(distinct_ratio, F.lit(0.0)) + 0.2 * has_stop, 6
    )


def quality_score(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality score per document — the filter stage of a training-data
    pipeline.  Pure column arithmetic."""
    return docs.select(
        "doc_id",
        F.size(tokens(text_col)).alias("n_tokens"),
        quality_expr(text_col).alias("quality"),
    )


def dedup_clusters(
    pairs: DataFrame, max_iter: int = 20, stats: dict | None = None
) -> DataFrame:
    """Connected components over near-dup pairs via iterative min-label
    propagation (the scalable CC pattern: each round joins current
    labels across edges and keeps the min; converges in O(diameter)
    rounds — near-dup clusters are tiny, so a handful).  Returns
    (doc_id, cluster_id=min doc_id of the component): keep one canonical
    doc per cluster, drop the rest.

    Raises RuntimeError when `max_iter` rounds pass without reaching a
    fixpoint — returning non-converged labels would silently split
    components (and fail the recursive-CTE oracle).  For graphs with
    long chains use `dedup_clusters_star`, which converges in O(log n)
    rounds instead of O(diameter)."""
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
        # materialize ONCE: every iteration joins edges, and without
        # this the whole upstream pair pipeline (MinHash signatures,
        # banding, verification) re-executes per round — measured 14s
        # -> 8s at sf0.1 from this line
        .localCheckpoint(eager=True)
    )
    labels = edges.select(F.col("src").alias("id")).distinct().withColumn(
        "cluster_id", F.col("id")
    )
    converged = False
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        neighbor_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        # carry a per-row `changed` flag INTO the checkpointed frame:
        # the join pipeline then executes exactly once per round (the
        # checkpoint materializes labels and flags together) and the
        # convergence count RIDES ON the checkpoint job itself via
        # df.observe — zero extra jobs per round (r12; the r11 fold
        # had already cut the duplicated join, but still paid one
        # probe job per round to scan the flags).  When the listener
        # misses (bounded ~0.5 s wait), the old probe job is the
        # fallback — convergence detection never blocks indefinitely
        # and never errs.
        from pyspark.sql import Observation

        obs = Observation()
        ckpt = (
            labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
            .select(
                "id",
                F.least(
                    F.col("cluster_id"), F.coalesce(F.col("nbr_min"), F.col("cluster_id"))
                ).alias("cluster_id"),
                (
                    F.coalesce(F.col("nbr_min"), F.col("cluster_id"))
                    < F.col("cluster_id")
                ).alias("changed"),
            )
            .observe(obs, F.count_if("changed").cast("long").alias("n_changed"))
            .localCheckpoint(eager=True)
        )
        labels = ckpt.select("id", "cluster_id")
        n_changed = observed_long(obs, "n_changed")
        if n_changed is None:  # listener missed: fall back to a probe job
            n_changed = ckpt.where("changed").limit(1).count()
        if n_changed == 0:
            converged = True
            break
    if stats is not None:
        stats["rounds"] = rounds
    if not converged:
        raise RuntimeError(
            f"dedup_clusters did not converge in {max_iter} rounds — the pair "
            "graph has a component with diameter beyond the round budget; "
            "raise max_iter or use dedup_clusters_star (O(log n) rounds)"
        )
    return labels.select(F.col("id").alias("doc_id"), "cluster_id")


def dedup_clusters_star(
    pairs: DataFrame, max_iter: int = 50, stats: dict | None = None
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14).  Same (doc_id, cluster_id=component min) contract as
    `dedup_clusters`, but converges in O(log n) rounds REGARDLESS of
    component diameter — min-label propagation pays one round per hop,
    so a near-dup chain of length d (common in 100-TB-corpus dedup
    graphs: A~B~C~... drifting revisions) costs d rounds there versus
    ~log d here.  Each round is two shuffles (groupBy min + join), the
    same per-round cost shape as label propagation.

    large-star: every node links its strictly-larger neighbours to the
    minimum of its closed neighbourhood (cuts tall trees to depth ~1/2);
    small-star: every node links its smaller neighbours and itself to
    their minimum (completes star collapse).  Fixpoint = components as
    stars centred on the component minimum.

    `stats`, when given, receives {"rounds": n} so probes can record
    the round-count advantage (tools/scale_probe.py)."""
    sym = (
        pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .unionByName(pairs.select(F.col("id_b").alias("u"), F.col("id_a").alias("v")))
        .where(F.col("u") != F.col("v"))
        .distinct()
        # same rationale as dedup_clusters: materialize once, or the
        # upstream pair pipeline re-executes every round
        .localCheckpoint(eager=True)
    )
    edges = sym
    stars = None
    stars_count: int | None = None
    converged = False
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        # LARGE-STAR over the symmetric edge list: m = min(N(u) ∪ {u}),
        # emit (v, m) for strictly-larger neighbours v > u.
        mins = (
            edges.groupBy("u")
            .agg(F.min("v").alias("mv"))
            .select("u", F.least(F.col("u"), F.col("mv")).alias("m"))
        )
        large = (
            edges.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            # no distinct here: the only consumer is `und`, which
            # dedups after orientation — an extra shuffle buys nothing
        )
        # SMALL-STAR: orient each edge from its larger endpoint, then
        # link the smaller neighbours AND the node itself to their min.
        und = large.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).distinct()
        mins2 = und.groupBy("u").agg(F.min("v").alias("m"))
        new_stars = (
            und.join(mins2, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(mins2.select("u", F.col("m").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        # convergence probe cost (r12): the previous round's count is
        # held driver-side (both frames are checkpointed, the count
        # cannot drift), and the set-difference probe is a left_anti
        # join — equivalent to exceptAll on these DISTINCT frames but
        # a plain hash join instead of exceptAll's tagged union +
        # re-aggregation.  Per round: one count job, plus one anti
        # probe only when the counts tie.  NULL keys (r12 advice):
        # anti-join never matches NULL u/v, but none can exist here —
        # `sym`'s u != v filter drops NULL-endpoint rows at ingestion,
        # and every later frame derives from sym.
        new_count = new_stars.count()
        if stars is not None and new_count == stars_count:
            if (
                new_stars.join(stars, ["u", "v"], "left_anti").limit(1).count()
                == 0
            ):
                stars = new_stars
                converged = True
                break
        stars = new_stars
        stars_count = new_count
        # new_stars is already distinct and its two orientations are
        # disjoint (u>v vs v<u), so the symmetric union needs no
        # distinct; and the consumers (groupBy-min, emit-then-dedup)
        # are duplicate-insensitive anyway
        edges = new_stars.unionByName(
            new_stars.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
    if stats is not None:
        stats["rounds"] = rounds
    if not converged:
        raise RuntimeError(
            f"dedup_clusters_star did not converge in {max_iter} rounds "
            "(expected O(log n)); the pair graph is pathological — inspect it"
        )
    labels = stars.select(F.col("u").alias("doc_id"), F.col("v").alias("cluster_id"))
    roots = (
        stars.select(F.col("v").alias("doc_id"))
        .distinct()
        .withColumn("cluster_id", F.col("doc_id"))
    )
    # at fixpoint each non-root appears exactly once; the groupBy-min is
    # a cheap idempotent safety net over the tiny label set
    return (
        labels.unionByName(roots)
        .groupBy("doc_id")
        .agg(F.min("cluster_id").alias("cluster_id"))
    )


def _portable_artifacts(
    docs: DataFrame, id_col: str, text_col: str, num_hashes: int, shingle_k: int, bands: int
) -> tuple[DataFrame, DataFrame]:
    """(shingle sets, band buckets) of one side of an incremental dedup
    on the portable family — the artifacts DedupIndex stores.  The
    sets materialize once (lazy localCheckpoint) and feed both the
    bucket table and the verification join (r12; guide §2.3)."""
    sets = _shingle_sets(docs, id_col, text_col, shingle_k).localCheckpoint(eager=False)
    sigs = _signatures(sets, id_col, num_hashes, _PORTABLE)
    return sets, _band_buckets(sigs, id_col, bands, num_hashes // bands)


def cross_corpus_near_dup(
    existing: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    num_hashes: int = 32,
    shingle_k: int = 3,
    bands: int = 8,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Incremental dedup: find near-dups of a NEW batch against an
    EXISTING corpus only — no within-side pairs.  Portable family.

    This is the shape dedup actually takes at 100 TB: the corpus's
    bucket table (see DedupIndex) is computed once and stored; each
    daily ingest builds buckets for its own batch (tiny) and
    equi-joins them against the stored table — O(batch), never
    O(corpus^2) or even O(corpus) re-hashing.  Candidates are verified
    by exact Jaccard on the shingle sets of the matched rows only.

    `max_bucket_size` caps the CORPUS side's buckets (same opt-in
    hot-bucket guard as lsh_candidate_pairs): a boilerplate bucket of
    a million corpus docs would turn every matching ingest row into a
    million candidates.  None = exact oracle parity.

    Returns (id_a = existing doc, id_b = new doc, jaccard)."""
    ss_e, be = _portable_artifacts(existing, id_col, text_col, num_hashes, shingle_k, bands)
    ss_n, bn = _portable_artifacts(new, id_col, text_col, num_hashes, shingle_k, bands)
    cands = _candidate_pairs(_capped(be, _BAND, max_bucket_size), bn, _BAND, id_col)
    return _verified(cands, ss_e, ss_n, id_col, threshold)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def _simhash(
    docs: DataFrame, id_col: str, text_col: str, family: _HashFamily
) -> DataFrame:
    """(id, simhash) per document: hash each distinct token, vote per
    bit (+1 if set else -1) summed across tokens, bit j of the
    fingerprint set iff the vote is positive.  One explode + one
    groupBy (the per-bit sum aggregates fuse into a single
    partial-aggregated shuffle)."""
    h = docs.select(
        F.col(id_col), F.explode(F.array_distinct(tokens(text_col))).alias("tok")
    ).select(F.col(id_col), family.hash(F.col("tok")).alias("h"))
    votes = h.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftrightunsigned(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"v_{j}")
            for j in range(family.bits)
        ]
    )
    # adding disjoint powers of two is exact in two's complement,
    # including the sign bit (j=63)
    fp = reduce(
        operator.add,
        [
            F.when(F.col(f"v_{j}") > 0, F.lit(1 << j if j < 63 else -(1 << 63)).cast("long"))
            .otherwise(F.lit(0).cast("long"))
            for j in range(family.bits)
        ],
    )
    return votes.select(F.col(id_col), fp.alias("simhash"))


def simhash64(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """64-bit SimHash per document on the xxhash64 family."""
    return _simhash(docs, id_col, text_col, _XXHASH)


def portable_simhash(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """60-bit SimHash per document on the portable md5-derived token
    hash, which the DuckDB oracle reproduces bit for bit."""
    return _simhash(docs, id_col, text_col, _PORTABLE)


def simhash_chunks(sim_col: Column, chunk_bits: int = 16) -> Column:
    """Split a 64-bit simhash into 64/chunk_bits chunks for banded
    candidate search (pigeonhole: hamming<=k-1 pairs share a chunk)."""
    n = 64 // chunk_bits
    mask = (1 << chunk_bits) - 1
    return F.array(
        *[
            F.shiftrightunsigned(sim_col, i * chunk_bits).bitwiseAND(F.lit(mask))
            for i in range(n)
        ]
    )


def simhash_near_pairs(
    sims: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Candidate pairs via 16-bit chunk buckets, verified by exact
    Hamming distance <= max_hamming.  `max_bucket_size` is the same
    opt-in hot-bucket guard as lsh_candidate_pairs: a chunk value
    shared by a boilerplate cluster makes its bucket quadratic; capped
    buckets are dropped before the join (None = exact parity with the
    cross-engine oracles)."""
    keys = ["chunk_idx", "chunk_val"]
    buckets = _capped(
        sims.select(
            F.col(id_col),
            F.col("simhash"),
            F.posexplode(simhash_chunks(F.col("simhash"))).alias(*keys),
        ),
        keys,
        max_bucket_size,
    )
    cands = _candidate_pairs(buckets, None, keys, id_col, carry=("simhash",))
    hamming = F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b")))
    return cands.select("id_a", "id_b", hamming.alias("hamming")).where(
        F.col("hamming") <= max_hamming
    )


# ---------------------------------------------------------------------------
# embedding similarity
# ---------------------------------------------------------------------------

def dot_product(a: Column, b: Column) -> Column:
    """In-order double fold — bitwise-reproducible across engines
    (matches DuckDB list_sum(list_transform(list_zip(...)))."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def vector_norm(v: Column) -> Column:
    return F.sqrt(
        F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )


def cosine(a: Column, b: Column) -> Column:
    return dot_product(a, b) / F.nullif(vector_norm(a) * vector_norm(b), F.lit(0.0))


def cosine_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    corpus: DataFrame | None = None,
) -> DataFrame:
    """Brute-force cosine top-k: broadcast the (few) query vectors over
    the corpus — a map-only pass plus a per-query top-k window over the
    scored rows. The corpus is never shuffled by pair.

    `corpus` (default: `emb` itself) is the searchable universe —
    pass a PRE-FILTERED relation for filtered vector search (metadata
    predicate + top-k): filtering before scoring guarantees a full k
    from the eligible set, where post-filtering a global top-k returns
    fewer than k once the predicate is selective."""
    q = emb.where(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    space = corpus if corpus is not None else emb
    scored = (
        F.broadcast(q)
        .crossJoin(space.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("n_vec")))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            # rank on the raw double (bitwise-reproducible), round only for output
            cosine(F.col("q_vec"), F.col("n_vec")).alias("raw_cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("raw_cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("raw_cosine"), 6).alias("cosine"),
            "rank",
        )
    )


def mmr_rerank(
    emb: DataFrame,
    query_vec_id: int,
    k: int = 10,
    shortlist: int = 50,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> "pd.DataFrame":
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    SIGIR'98): greedily pick the candidate maximizing
        lam * sim(q, d) - (1 - lam) * max_{s in selected} sim(d, s)
    — relevance traded against redundancy, the standard
    diversity-aware final stage of a retrieval pipeline.

    Split of labor, by construction: the DISTRIBUTED work is the exact
    top-`shortlist` cosine scan (broadcast query, corpus never
    shuffled); the greedy loop is inherently sequential (step i
    depends on the set chosen through i-1) and runs on the driver
    over the <= shortlist collected candidate vectors — bounded,
    numpy-vectorized, and exactly where every production reranker
    (cross-encoder or MMR) runs.  Returns a pandas DataFrame
    (mmr_rank, neighbor_id, relevance, mmr_score) — driver-side by
    nature, like the report payload.  Ties break on the lower id;
    lam=1 reduces to the plain relevance order."""
    import numpy as np

    cands = cosine_topk(emb, [query_vec_id], k=shortlist, id_col=id_col,
                        vec_col=vec_col).collect()
    ids = [r["neighbor_id"] for r in cands]
    rel = {r["neighbor_id"]: r["cosine"] for r in cands}
    vec_rows = emb.where(F.col(id_col).isin(ids)).select(id_col, vec_col).collect()
    vecs = {r[id_col]: np.asarray(r[vec_col], dtype=np.float64) for r in vec_rows}
    mat = np.stack([vecs[i] / (np.linalg.norm(vecs[i]) or 1.0) for i in ids])
    sim = mat @ mat.T  # candidate-candidate cosine, shortlist^2 tiny
    order = {i: pos for pos, i in enumerate(ids)}
    selected: list[tuple[int, float]] = []
    remaining = list(ids)
    while remaining and len(selected) < k:
        best = None
        for cand in remaining:
            red = max(
                (sim[order[cand], order[s]] for s, _ in selected), default=0.0
            )
            score = lam * rel[cand] - (1.0 - lam) * red
            key = (-score, cand)
            if best is None or key < best[0]:
                best = (key, cand, score)
        _, chosen, score = best
        selected.append((chosen, score))
        remaining.remove(chosen)
    return pd.DataFrame(
        {
            "mmr_rank": range(1, len(selected) + 1),
            "neighbor_id": [i for i, _ in selected],
            "relevance": [rel[i] for i, _ in selected],
            "mmr_score": [round(s, 6) for _, s in selected],
        }
    )


def _hyperplanes(n_planes: int, dim: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (pure python LCG so
    the plan is reproducible with no runtime RNG)."""
    state = seed
    planes = []
    for _ in range(n_planes):
        vals = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            # map to (-1, 1)
            vals.append(((state >> 11) / float(1 << 53)) * 2.0 - 1.0)
        norm = math.sqrt(sum(v * v for v in vals)) or 1.0
        planes.append([v / norm for v in vals])
    return planes


def lsh_bucket(vec_col: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane LSH bucket id: bit j = sign(v . plane_j)."""
    bucket = F.lit(0).cast("long")
    for j, plane in enumerate(planes):
        plane_lit = F.array(*[F.lit(p) for p in plane])
        d = F.aggregate(
            F.zip_with(vec_col, plane_lit, lambda x, p: x.cast("double") * p),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bucket = bucket + F.when(d > 0, F.lit(2 ** j).cast("long")).otherwise(F.lit(0).cast("long"))
    return bucket


def ann_lsh_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    n_planes: int = 4,
    n_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k: multi-table hyperplane LSH — each of
    `n_tables` independent plane sets buckets the corpus; candidates
    are the union of same-bucket rows across tables (IVF-style recall
    boost: P[candidate] = 1-(1-p^planes)^tables).  At 100 TB the bucket
    equi-join replaces the broadcast scan of the brute-force path;
    recall/cost is traded via n_planes x n_tables."""
    table_buckets = F.array(
        *[
            lsh_bucket(F.col(vec_col), _hyperplanes(n_planes, dim, seed=42 + t))
            for t in range(n_tables)
        ]
    )
    bucketed = emb.select(
        F.col(id_col),
        F.col(vec_col),
        F.posexplode(table_buckets).alias("table_idx", "bucket"),
    )
    q = bucketed.where(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"), "table_idx", "bucket"
    )
    c = bucketed.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("n_vec"), "table_idx", "bucket"
    )
    scored = (
        F.broadcast(q)
        .join(c, ["table_idx", "bucket"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "q_vec", "n_vec")
        .dropDuplicates(["query_id", "neighbor_id"])
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("q_vec"), F.col("n_vec")).alias("raw_cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("raw_cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("raw_cosine"), 6).alias("cosine"),
            "rank",
        )
    )


def kmeans_centroids(
    emb: DataFrame,
    k: int = 8,
    n_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    pre_materialized: bool = False,
) -> list[list[float]]:
    """Distributed Lloyd's k-means over the embedding column using only
    DataFrame ops: assignment = argmin over broadcast centroid dots
    (vectors are L2-normalized, so max-dot == min-angle), update =
    per-cluster mean via one groupBy.  Deterministic: seeds from the k
    lowest ids.  Centroids collect to the driver (k x dim floats) —
    that is the only driver-side data at any corpus size.

    The (id, vec) projection is materialized once (lazy
    localCheckpoint): every Lloyd iteration ends in a collect, and
    without this the seed job plus each iteration re-ran the upstream
    scan/projection — n_iter+1 redundant corpus reads (r12 opt;
    guide §5: reuse beats recompute when the input is re-read per
    iteration).  `pre_materialized=True` says the CALLER already
    checkpointed the projection (r13: the ANN/semantic-dedup paths
    share one corpus materialization between training and their own
    assignment/encode/re-rank passes) — re-checkpointing would copy
    the blocks."""
    emb = emb.select(F.col(id_col), F.col(vec_col))
    if not pre_materialized:
        emb = emb.localCheckpoint(eager=False)
    seeds = (
        emb.orderBy(id_col).limit(k).select(vec_col).collect()
    )
    centroids = [[float(x) for x in row[vec_col]] for row in seeds]
    for _ in range(n_iter):
        assigned = emb.select(
            F.col(vec_col),
            _nearest_centroid_pandas(vec_col, centroids).alias("cluster"),
        )
        # per-cluster elementwise mean: aggregate each dimension via the
        # array fold (posexplode keeps it one shuffle on (cluster, dim)).
        # r13 note: a one-groupBy variant with `dim` separate
        # F.avg(vec[d]) columns was A/B'd and is ~2x SLOWER per
        # iteration — 64 GetArrayItem aggregate buffers cost more in
        # codegen/planning than the explode costs in rows, and both
        # shapes partial-aggregate to k(x dim) rows before the
        # exchange, so the shuffle was never the bottleneck.
        exploded = assigned.select(
            "cluster", F.posexplode(vec_col).alias("dim", "val")
        )
        means = (
            exploded.groupBy("cluster", "dim")
            .agg(F.avg("val").alias("mean"))
            .groupBy("cluster")
            .agg(F.array_sort(F.collect_list(F.struct("dim", "mean"))).alias("dims"))
            .select("cluster", F.transform("dims", lambda s: s["mean"]).alias("centroid"))
        )
        got = {r["cluster"]: [float(x) for x in r["centroid"]] for r in means.collect()}
        centroids = [got.get(i, centroids[i]) for i in range(k)]
    return centroids


def _nearest_centroid(vec: Column, centroids: list[list[float]]) -> Column:
    """Argmax-dot over broadcast centroids as a pure column expression.
    Codegen cost grows with k*dim literals — fine for handfuls of
    centroids; `_nearest_centroid_pandas` is the production assignment
    (measured: the literal expression made a 2k-vector k-means
    ~7s-of-plan-compilation; the Arrow path is sub-second)."""
    best_idx = F.lit(0)
    best_dot = F.lit(float("-inf"))
    for i, c in enumerate(centroids):
        c_lit = F.array(*[F.lit(float(x)) for x in c])
        d = F.aggregate(
            F.zip_with(vec, c_lit, lambda x, p: x.cast("double") * p),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        best_idx = F.when(d > best_dot, F.lit(i)).otherwise(best_idx)
        best_dot = F.greatest(best_dot, d)
    return best_idx


def _nearest_centroid_pandas(vec_col: str, centroids: list[list[float]]) -> Column:
    """Arrow-batched centroid assignment: one numpy matmul + argmax per
    batch, centroids shipped once in the UDF closure.  Same earliest-
    index tie-break as the expression form (numpy argmax keeps the
    first maximum; the literal chain only replaces on strictly
    greater).  Plan size is O(1) in k*dim, so this is the path that
    survives k=100k SemDeDup-scale clusterings."""
    import numpy as np

    from pyspark.sql.functions import pandas_udf

    C = np.asarray(centroids, dtype=np.float64).T  # dim x k

    @pandas_udf("int")
    def assign(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in it:
            V = np.asarray(s.tolist(), dtype=np.float64)
            yield pd.Series(np.argmax(V @ C, axis=1).astype("int32"))

    return assign(vec_col)


def ann_ivf_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    n_clusters: int = 8,
    n_probe: int = 2,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """IVF ANN: k-means-partition the corpus, search only the n_probe
    clusters nearest each query.  The inverted-file structure is the
    cluster column; at 100 TB it is the table's physical partitioning
    and a probe reads corpus * n_probe/n_clusters."""
    # one corpus materialization shared by training AND the corpus
    # assignment below (r13): kmeans re-read the projection per
    # iteration from its own checkpoint while the assignment re-ran
    # the raw scan — now both read the same blocks
    proj = emb.select(F.col(id_col), F.col(vec_col)).localCheckpoint(eager=False)
    centroids = kmeans_centroids(
        proj, k=n_clusters, n_iter=n_iter, id_col=id_col, vec_col=vec_col,
        dim=dim, pre_materialized=True,
    )
    corpus = proj.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("n_vec"),
        _nearest_centroid_pandas(vec_col, centroids).alias("cluster"),
    )
    # per-query probe list: the n_probe closest centroids
    probes = []
    q_rows = emb.where(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    ).collect()
    for r in q_rows:
        qv = [float(x) for x in r["q_vec"]]
        dots = sorted(
            ((sum(a * b for a, b in zip(qv, c)), i) for i, c in enumerate(centroids)),
            reverse=True,
        )
        for _, ci in dots[:n_probe]:
            probes.append((r["query_id"], qv, ci))
    probe_df = emb.sparkSession.createDataFrame(
        probes, "query_id long, q_vec array<double>, cluster int"
    )
    scored = (
        F.broadcast(probe_df)
        .join(corpus, "cluster")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.aggregate(
                F.zip_with(
                    "q_vec", F.col("n_vec"), lambda a, b: a * b.cast("double")
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ).alias("raw_cosine"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("raw_cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", F.round("raw_cosine", 6).alias("cosine"), "rank"
        )
    )


def embedding_near_dup(
    emb: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via LSH buckets (near-dups
    at high cosine land in the same sign-bucket with high probability)."""
    planes = _hyperplanes(n_planes, dim)
    bucketed = emb.select(
        F.col(id_col), F.col(vec_col), lsh_bucket(F.col(vec_col), planes).alias("bucket")
    )
    a, b = bucketed.alias("a"), bucketed.alias("b")
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.round(cosine(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}")), 6).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


def semantic_dedup_exact(
    emb: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_id: int | None = None,
    max_rows: int = 10_000,
) -> DataFrame:
    """SemDeDup pruning rule, exact on a bounded id range: a vector is
    a duplicate iff ANY lower-id vector has cosine >= threshold (the
    "dominated" rule — no sequential survivor chain, so it is order-
    free, embarrassingly parallel, and SQL-expressible for the oracle).
    Cosine is the JVM-side sequential fold (`cosine`), bit-matching
    DuckDB's list_sum so the >= boundary cannot flip between engines.

    Same mechanical quadratic guard as ngram_jaccard_pairs; the
    clustered `semantic_dedup` is the at-scale path."""
    d = emb if max_id is None else emb.where(F.col(id_col) < max_id)
    n_rows = d.count()
    if n_rows > max_rows:
        raise ValueError(
            f"semantic_dedup_exact is a quadratic baseline: {n_rows} rows "
            f"exceeds max_rows={max_rows} — bound with max_id or use the "
            "clustered semantic_dedup"
        )
    a = d.select(F.col(id_col).alias("__ia"), F.col(vec_col).alias("__va"))
    b = d.select(F.col(id_col).alias("__ib"), F.col(vec_col).alias("__vb"))
    dominated = (
        a.crossJoin(b)
        .where(F.col("__ia") < F.col("__ib"))
        .where(cosine(F.col("__va"), F.col("__vb")) >= threshold)
        .select(F.col("__ib").alias(id_col))
        .distinct()
        .withColumn("__dup", F.lit(True))
    )
    return d.select(id_col).join(dominated, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("__dup"), F.lit(False)).alias("is_dup"),
    )


def semantic_dedup(
    emb: DataFrame,
    threshold: float = 0.85,
    n_clusters: int = 8,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    max_cluster_rows: int = 100_000,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): k-means-cluster
    the embedding space, then prune near-semantic-duplicates WITHIN
    each cluster — the clustering bounds the quadratic similarity
    computation to cluster-sized blocks, which is what makes
    embedding-level dedup feasible at corpus scale (the paper runs
    ~50k clusters over LAION/CC).  Inside a cluster the dominated rule
    marks a vector duplicate iff any lower-id cluster-mate has cosine
    >= threshold (deterministic keep-lowest-id representative; order-
    free, identical to semantic_dedup_exact restricted to the cluster).

    Plan shape: one k-means pass (broadcast centroids, JVM argmax —
    kmeans_centroids), one shuffle on cluster id, then an Arrow-batched
    numpy Gram-matrix kernel per cluster (no per-row Python).  Cross-
    cluster near-dups are intentionally not compared — that recall loss
    is the SemDeDup trade; raise n_clusters for tighter blocks, and a
    cluster exceeding `max_cluster_rows` raises (the O(m^2) block would
    not fit) instead of silently stalling an executor."""
    import numpy as np

    from pyspark.sql.types import (
        BooleanType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    if n_clusters <= 1:
        corpus = emb.select(
            F.col(id_col), F.col(vec_col), F.lit(0).alias("cluster")
        )
    else:
        # share one corpus materialization between k-means training
        # and the cluster-assignment pass below (r13)
        proj = emb.select(F.col(id_col), F.col(vec_col)).localCheckpoint(
            eager=False
        )
        centroids = kmeans_centroids(
            proj, k=n_clusters, n_iter=n_iter, id_col=id_col,
            vec_col=vec_col, dim=dim, pre_materialized=True,
        )
        corpus = proj.select(
            F.col(id_col),
            F.col(vec_col),
            _nearest_centroid_pandas(vec_col, centroids).alias("cluster"),
        )
    out_schema = StructType([
        StructField(id_col, LongType()),
        StructField("cluster", IntegerType()),
        StructField("is_dup", BooleanType()),
        StructField("dup_of", LongType(), nullable=True),
    ])

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        m = len(pdf)
        if m > max_cluster_rows:
            raise ValueError(
                f"semantic_dedup cluster of {m} rows exceeds "
                f"max_cluster_rows={max_cluster_rows}; raise n_clusters"
            )
        pdf = pdf.sort_values(id_col, kind="mergesort").reset_index(drop=True)
        V = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
        norms = np.linalg.norm(V, axis=1)
        norms[norms == 0.0] = 1.0
        S = (V / norms[:, None]) @ (V / norms[:, None]).T
        hit = np.tril(S >= threshold, k=-1)
        is_dup = hit.any(axis=1)
        ids = pdf[id_col].to_numpy()
        first = hit.argmax(axis=1)  # lowest-index j with a hit
        return pd.DataFrame({
            id_col: ids,
            "cluster": pdf["cluster"],
            "is_dup": is_dup,
            "dup_of": pd.array(
                [int(ids[j]) if d else None for d, j in zip(is_dup, first)],
                dtype="Int64",
            ),
        })

    return corpus.groupBy("cluster").applyInPandas(kernel, out_schema)


def pca_fit(
    emb: DataFrame,
    k: int = 8,
    vec_col: str = "embedding",
    dim: int = 64,
):
    """Distributed PCA fit in ONE corpus pass: every partition reduces
    to (n, sum(x), sum(x xT)) — d + d*d floats — via an Arrow batch
    kernel; the partials (one small row per partition) combine on the
    driver, and the d x d eigendecomposition runs there (d=64 is
    microscopic; the CORPUS never moves).  This is the textbook
    map-reduce covariance PCA: cost O(rows * d^2) map-side, O(d^2)
    driver-side, independent of row count at the driver.

    Deterministic sign convention: each component is flipped so its
    largest-|.|-coordinate is positive (numpy eigh sign is otherwise
    arbitrary).  Returns (mean, components[k x d], explained_ratio)."""
    import numpy as np

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n, s, o = 0, np.zeros(dim), np.zeros((dim, dim))
        for b in batches:
            V = np.asarray(b[vec_col].tolist(), dtype=np.float64)
            if len(V):
                n += len(V)
                s += V.sum(axis=0)
                o += V.T @ V
        if n:
            yield pd.DataFrame(
                {"n": [n], "s": [s.tolist()], "o": [o.reshape(-1).tolist()]}
            )

    rows = (
        emb.select(vec_col)
        .mapInPandas(partials, "n long, s array<double>, o array<double>")
        .collect()
    )
    n = sum(r["n"] for r in rows)
    if n < 2:
        raise ValueError("pca_fit needs at least 2 vectors")
    s = np.sum([np.asarray(r["s"]) for r in rows], axis=0)
    o = np.sum([np.asarray(r["o"]).reshape(dim, dim) for r in rows], axis=0)
    mean = s / n
    cov = (o - n * np.outer(mean, mean)) / (n - 1)
    vals, vecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(vals)[::-1][:k]
    comps = vecs[:, order].T  # k x d
    for i in range(comps.shape[0]):  # deterministic sign
        j = np.argmax(np.abs(comps[i]))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    explained = vals[order] / max(vals.sum(), 1e-300)
    return mean, comps, explained


def pca_project(
    emb: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Project each embedding onto the top-k principal components
    (centered): (id, pc array<double>).  The k x d component matrix
    ships once in the UDF closure; projection is one numpy matmul per
    Arrow batch."""
    import numpy as np

    from pyspark.sql.types import ArrayType, DoubleType

    mean, comps, _ = pca_fit(emb, k=k, vec_col=vec_col, dim=dim)
    C, M = comps.T.copy(), mean.copy()  # d x k

    @F.pandas_udf(ArrayType(DoubleType()))
    def project(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in it:
            V = np.asarray(s.tolist(), dtype=np.float64) - M
            yield pd.Series(list((V @ C)))

    return emb.select(F.col(id_col), project(vec_col).alias("pc"))


def compression_ratio(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    level: int = 6,
) -> DataFrame:
    """Per-document zlib compressibility — compressed_bytes /
    raw_bytes.  The classic cheap redundancy signal (low ratio =
    repetitive boilerplate/spam, near-1 = high-entropy text or noise;
    both tails are filter candidates in CCNet/Gopher-style pipelines).
    zlib has no JVM column function, so this is an Arrow-batched
    scalar pandas_udf (the sanctioned Python path — one C call per
    value, no row-Python plan nodes); DEFLATE is deterministic for a
    fixed level, so results are retry- and rerun-stable."""
    import zlib

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def ratio(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in it:
            yield s.map(
                lambda t: (
                    len(zlib.compress(t.encode("utf-8"), level))
                    / max(len(t.encode("utf-8")), 1)
                )
                if t is not None
                else None
            )

    return docs.select(
        F.col(id_col),
        F.length(text_col).alias("n_chars"),
        F.round(ratio(text_col), 6).alias("zlib_ratio"),
    )


def jl_sign(i: int, j: int, seed: int) -> int:
    """Portable ±1 sign for projection cell (i, j): parity of the
    first 32 bits of md5('<i>_<j>_<seed>') — identical in Python
    hashlib, Spark md5, and DuckDB md5, so the oracle re-derives the
    exact projection matrix."""
    import hashlib

    h = int(hashlib.md5(f"{i}_{j}_{seed}".encode()).hexdigest()[:8], 16)
    return 1 if h % 2 == 0 else -1


def jl_project(
    emb: DataFrame,
    out_dim: int = 16,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Johnson-Lindenstrauss random projection with the Achlioptas
    ±1 sign matrix (Achlioptas, JCSS 2003): y_j = (1/sqrt(out_dim)) *
    sum_i sign(i,j) x_i.  The database-friendly dimensionality
    reduction — no training pass at all (vs PCA's covariance
    eigendecomposition), distances preserved within (1±eps) w.h.p.,
    and because the matrix is a deterministic portable hash the WHOLE
    projection is value-checkable cross-engine (every other embedding
    op here is rows-only).

    Plan: posexplode the vector, equi-join the broadcast
    (i, j, sign) table (dim*out_dim rows), one partial-agg
    groupBy(id, j) — all JVM-side; the giant-literal expression
    alternative costs O(dim*out_dim) codegen per query (the SemDeDup
    lesson).  Output is LONG form (id, j, val): array assembly would
    only re-sort what downstream ops explode again."""
    spark = emb.sparkSession
    signs = spark.createDataFrame(
        [
            (i, j, float(jl_sign(i, j, seed)))
            for i in range(dim)
            for j in range(out_dim)
        ],
        "i int, j int, s double",
    )
    scale = 1.0 / (out_dim ** 0.5)
    comps = emb.select(
        F.col(id_col), F.posexplode(vec_col).alias("i", "x")
    )
    return (
        comps.join(F.broadcast(signs), "i")
        .groupBy(id_col, "j")
        .agg(
            (F.sum(F.col("x").cast("double") * F.col("s")) * F.lit(scale)).alias(
                "val"
            )
        )
    )


# ---------------------------------------------------------------------------
# training-data curation: chunking, PII scrub, repetition, contamination
# ---------------------------------------------------------------------------

EMAIL_RE = r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+[0-9]{1,2}-[0-9]{3}-[0-9]{3}-[0-9]{4}"


def doc_chunks(
    docs: DataFrame,
    size: int = 200,
    stride: int = 150,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Fixed-size character-window chunking with overlap — the
    context-window split stage of a training pipeline.  `sequence`
    generates the chunk start offsets JVM-side and `posexplode` fans
    them out, so the whole op is one narrow stage: no shuffle, no
    Python, and each chunk carries its provenance (doc, index, offset).

    Emits an md5 fingerprint of the chunk next to its text so
    downstream chunk-level exact dedup needs only the 32-byte key.
    """
    starts = F.sequence(
        F.lit(1), F.greatest(F.length(F.col(text_col)), F.lit(1)), F.lit(stride)
    )
    chunk = F.substring(F.col(text_col), F.col("chunk_start"), size)
    return (
        docs.select(
            F.col(id_col),
            F.col(text_col),
            F.posexplode(starts).alias("chunk_idx", "chunk_start"),
        )
        .select(
            id_col,
            "chunk_idx",
            "chunk_start",
            F.length(chunk).alias("chunk_len"),
            F.md5(chunk).alias("chunk_fp"),
        )
    )


def pii_redact(col: Column | str) -> Column:
    """Scrub emails and international-format phone numbers from a text
    column.  Chained built-in regexp_replace — JVM regex, replaces every
    occurrence, stays inside codegen."""
    c = F.regexp_replace(_c(col), EMAIL_RE, "<EMAIL>")
    return F.regexp_replace(c, PHONE_RE, "<PHONE>")


def ngram_repetition(
    docs: DataFrame,
    n: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Gopher-style repetition signal: the fraction of word n-gram
    occurrences that are duplicates of an earlier occurrence in the same
    document.  Entirely higher-order array functions (transform /
    array_distinct) on one row — no explode, no shuffle: the natural
    shape for a per-document quality column at 100 TB."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    # n-grams as space-joined windows; empty when the doc has < n tokens
    # (sequence(1, 0) would count DOWN, so gate on size first)
    grams = F.expr(
        f"CASE WHEN size({text_col}_toks) >= {n} THEN "
        f"transform(sequence(1, size({text_col}_toks) - {n - 1}), "
        f"i -> concat_ws(' ', slice({text_col}_toks, i, {n}))) "
        f"ELSE CAST(array() AS array<string>) END"
    )
    return (
        docs.withColumn(f"{text_col}_toks", toks)
        .withColumn("grams", grams)
        .select(
            id_col,
            F.size("grams").alias("n_grams"),
            F.round(
                F.when(F.size("grams") > 0,
                       1.0 - F.size(F.array_distinct("grams"))
                       / F.size("grams").cast("double"))
                .otherwise(F.lit(0.0)),
                6,
            ).alias("dup_frac"),
        )
    )


def word_ngrams(docs: DataFrame, n: int, id_col: str, text_col: str) -> DataFrame:
    """(id, gram) rows — one per n-gram occurrence, duplicates kept."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    grams = F.expr(
        f"CASE WHEN size(__toks) >= {n} THEN "
        f"transform(sequence(1, size(__toks) - {n - 1}), "
        f"i -> concat_ws(' ', slice(__toks, i, {n}))) "
        f"ELSE CAST(array() AS array<string>) END"
    )
    return (
        docs.withColumn("__toks", toks)
        .select(F.col(id_col), F.explode(grams).alias("gram"))
    )


def contamination(
    train: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark-contamination check: for each training document, the
    fraction of its word n-gram occurrences that appear anywhere in the
    benchmark corpus.  The benchmark gram set is distinct-ed and
    broadcast (benchmarks are tiny next to a 100 TB corpus), so the scan
    over training grams is shuffle-free; the only wide op is the final
    per-doc groupBy."""
    train_grams = word_ngrams(train, n, id_col, text_col)
    bench_grams = word_ngrams(benchmark, n, id_col, text_col).select("gram").distinct()
    hit = F.when(F.col("b.gram").isNotNull(), 1).otherwise(0)
    return (
        train_grams.alias("t")
        .join(F.broadcast(bench_grams.alias("b")), F.col("t.gram") == F.col("b.gram"), "left")
        .groupBy(F.col(f"t.{id_col}").alias(id_col))
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(hit).cast("bigint").alias("n_contaminated"),
        )
        .select(
            id_col,
            "n_grams",
            "n_contaminated",
            F.round(F.col("n_contaminated") / F.col("n_grams").cast("double"), 6).alias(
                "contam_frac"
            ),
        )
    )


def positioned_grams(
    docs: DataFrame, k: int, id_col: str, text_col: str
) -> DataFrame:
    """(id, pos, gram_fp) rows — one per k-token-gram occurrence, with
    its 1-based start position and the md5 of the gram text (md5 keeps
    the fingerprint engine-portable AND fixed-width, so the postings
    shuffle moves 32-byte keys instead of arbitrary-length text)."""
    toks = tokens(text_col)
    gram_fps = F.expr(
        f"CASE WHEN size(__toks) >= {k} THEN "
        f"transform(sequence(1, size(__toks) - {k - 1}), "
        f"i -> md5(concat_ws(' ', slice(__toks, i, {k})))) "
        f"ELSE CAST(array() AS array<string>) END"
    )
    return (
        docs.withColumn("__toks", toks)
        .where(F.size("__toks") >= k)
        .select(F.col(id_col), F.posexplode(gram_fps).alias("__p", "gram_fp"))
        .select(F.col(id_col), (F.col("__p") + 1).alias("pos"), "gram_fp")
    )


def duplicate_spans(
    docs: DataFrame,
    k: int = 8,
    min_run: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_postings: int | None = None,
) -> DataFrame:
    """EXACT duplicated-substring detection between documents — the
    relational re-expression of ExactSubstr dedup (Lee et al. 2021,
    arXiv:2107.06499, "Deduplicating Training Data Makes Language
    Models Better").  The paper builds a corpus-wide suffix array and
    scans for repeated byte ranges >= 50 tokens; a suffix array is a
    single global sorted structure that does not shard naturally, so
    the distributed form here uses the equivalent postings formulation:

      1. explode each doc into positioned k-token grams (one map pass);
      2. equi-join the postings list with itself on the gram
         fingerprint (the only fact-sized shuffle — identical shape to
         the LSH bucket join above, and skew-capped the same way);
      3. a matching RUN of r consecutive grams (same doc pair, same
         position offset, consecutive positions) == a shared token
         substring of length k + r - 1.  Runs fall out of a
         gaps-and-islands window (pos - row_number is constant within
         a run) followed by one groupBy that REUSES the window's
         hash partitioning (group keys are a superset of the window
         partition keys), so step 3 adds exactly one exchange.

    Returns (id_a, id_b, start_a, start_b, span_tokens): every maximal
    cross-document duplicated substring of >= k + min_run - 1 tokens,
    with its 1-based token start in each doc.  Downstream span REMOVAL
    is a per-doc slice-and-reassemble (see q_duplicate_spans notes).

    `max_postings` is the 100-TB hot-gram guard, same contract as
    lsh_candidate_pairs' max_bucket_size: a gram shared by millions of
    docs (licence boilerplate) turns the postings self-join quadratic;
    postings lists above the cap are dropped before the join, bounding
    worst-case join output at grams x cap^2.  None (default) keeps
    exact parity with the DuckDB oracle."""
    # materialize the postings once (lazy localCheckpoint): the
    # self-join otherwise duplicates the tokenize+md5 explode pipeline
    # per join side (r12; guide §2.4 — at scale the two sides are the
    # same relation and should be computed once, locally the broadcast
    # conversion of one side was defeating ReusedExchange)
    g = _capped(
        positioned_grams(docs, k, id_col, text_col).localCheckpoint(eager=False),
        ["gram_fp"],
        max_postings,
    )
    a = g.alias("a")
    b = g.alias("b")
    pairs = a.join(
        b,
        (F.col("a.gram_fp") == F.col("b.gram_fp"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    ).select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col("a.pos").alias("pos_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        F.col("b.pos").alias("pos_b"),
    )
    off = (F.col("pos_b") - F.col("pos_a")).alias("off")
    w = Window.partitionBy("id_a", "id_b", "off").orderBy("pos_a")
    runs = pairs.select("id_a", "id_b", off, "pos_a").withColumn(
        "grp", F.col("pos_a") - F.row_number().over(w)
    )
    return (
        runs.groupBy("id_a", "id_b", "off", "grp")
        .agg(
            F.min("pos_a").alias("start_a"),
            (F.min("pos_a") + F.col("off")).alias("start_b"),
            (F.count(F.lit(1)) + F.lit(k - 1)).cast("bigint").alias("span_tokens"),
        )
        .where(F.col("span_tokens") >= k + min_run - 1)
        .select("id_a", "id_b", "start_a", "start_b", "span_tokens")
    )


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 5,
    w: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every k-token gram, slide a
    window of `w` consecutive gram hashes, keep the minimum of each
    window.  Guarantees: any shared substring of >= w + k - 1 tokens
    yields at least one SHARED selected fingerprint, while only
    ~2/(w+1) of all grams are kept — the standard way to cut
    sub-document dedup index size by ~w/2 without losing detection,
    robust to insertions/shifts in a way fixed-stride chunking is not.

    Relational form: one positioned-gram explode (the hash is the
    first 32 bits of the gram md5 — portable, numeric), one window
    pass computing (min hash, its position) per w-window via
    min_by, and a distinct over the selected (pos, hash) pairs.
    Ties are broken by position through min_by's deterministic
    struct order and are practically impossible anyway (32-bit hash
    collisions inside one window).  Output: (id, pos, fp) — the
    fingerprint index rows; equality joins on fp find cross-doc
    shared regions at ~2/(w+1) the postings volume of
    duplicate_spans' full index."""
    g = positioned_grams(docs, k, id_col, text_col).select(
        F.col(id_col),
        "pos",
        F.conv(F.substring("gram_fp", 1, 8), 16, 10).cast("long").alias("h"),
    )
    win = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.currentRow, w - 1)
    )
    return (
        g.select(
            F.col(id_col),
            F.min_by(F.col("pos"), F.col("h")).over(win).alias("sel_pos"),
            F.min("h").over(win).alias("fp"),
            F.count(F.lit(1)).over(win).alias("__full"),
        )
        .where(F.col("__full") == w)  # only complete windows select
        .select(F.col(id_col), F.col("sel_pos").alias("pos"), "fp")
        .distinct()
    )


def remove_duplicate_spans(
    docs: DataFrame,
    spans: DataFrame | None = None,
    k: int = 8,
    min_run: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_postings: int | None = None,
) -> DataFrame:
    """The REMOVAL step of ExactSubstr dedup (arXiv:2107.06499 §4.2):
    given the duplicated spans, delete every duplicated region from the
    HIGHER-id document of each pair (the lower id keeps the canonical
    occurrence) and reassemble the text.  Returns
    (id, clean_text, n_removed).

    Scale shape: the span table collapses to one (doc, interval-list)
    row per affected doc (tiny next to the corpus), joins back on the
    id, and the token drop is a pure per-row higher-order expression —
    `filter(tokens, (t, i) -> no interval covers i)` — so removal adds
    ONE equi-join and zero Python to the pipeline; the corpus is never
    exploded to token granularity.  Docs with no spans pass through
    with an empty interval list (coalesce), fully-duplicated docs come
    out as empty text (length-0 filter result), exactly the paper's
    drop behavior."""
    if spans is None:
        spans = duplicate_spans(
            docs, k=k, min_run=min_run, id_col=id_col,
            text_col=text_col, max_postings=max_postings,
        )
    iv = (
        spans.select(
            F.col("id_b").alias(id_col),
            F.struct(
                F.col("start_b").alias("lo"),
                (F.col("start_b") + F.col("span_tokens")).alias("hi"),
            ).alias("__iv"),
        )
        .groupBy(id_col)
        .agg(F.collect_list("__iv").alias("__ivs"))
    )
    empty_ivs = F.array().cast("array<struct<lo:bigint,hi:bigint>>")
    with_toks = (
        docs.join(iv, id_col, "left")
        .withColumn("__ivs", F.coalesce(F.col("__ivs").cast("array<struct<lo:bigint,hi:bigint>>"), empty_ivs))
        .withColumn("__toks", tokens(text_col))
    )
    covered = lambda i: F.exists(  # noqa: E731 — 1-based token index i
        "__ivs", lambda s: (i >= s.lo) & (i < s.hi)
    )
    kept = F.filter("__toks", lambda t, i0: ~covered(i0 + F.lit(1)))
    return with_toks.select(
        F.col(id_col),
        F.concat_ws(" ", kept).alias("clean_text"),
        (F.size("__toks") - F.size(kept)).cast("bigint").alias("n_removed"),
    )


def curate_corpus(
    docs: DataFrame,
    quality_threshold: float = 0.5,
    chunk_size: int = 200,
    chunk_stride: int = 150,
    split_seed: int = 3,
) -> DataFrame:
    """End-to-end corpus curation: the whole training-data prep chain
    as ONE composed Spark plan —

        normalized exact-dedup -> quality gate -> PII redaction ->
        context-window chunking -> doc-level train/val/test tag

    Scale shape: ONE hash exchange (the dedup groupBy on normalized
    text) plus the winner-set semi join — broadcast at test scale
    (verified in tests/test_plans.py); at 100 TB the winner set is
    ~corpus-sized, so it becomes a doc_id-partitioned shuffle join and
    the chain is two exchanges total.  Quality is an INLINE column
    filter (no score-then-join round trip); redaction, chunking, and
    split tagging are all narrow JVM-side stages.  The split is keyed
    on doc_id, not chunk, so every chunk of a document lands in the
    same split — no train/test leakage through overlapping chunks.
    """
    from pixelspark.ops.sampling import train_val_test_split

    winners = exact_dedup(docs, normalize_text("text")).select(
        F.col("keep_id").alias("doc_id")
    )
    kept = docs.join(winners, "doc_id", "left_semi")
    survivors = kept.where(quality_expr("text") >= quality_threshold)
    red = survivors.select("doc_id", pii_redact("text").alias("text"))
    chunks = doc_chunks(red, size=chunk_size, stride=chunk_stride)
    return train_val_test_split(chunks, "doc_id", seed=split_seed).select(
        "doc_id", "chunk_idx", "chunk_len", "chunk_fp", "split"
    )


def sequence_pack(
    docs: DataFrame,
    budget_tokens: int = 512,
    id_col: str = "doc_id",
    text_col: str = "text",
    shard_col: str | None = None,
) -> DataFrame:
    """Sequence packing — the concat-and-chop step that turns variable
    -length documents into fixed-budget training sequences: lay all
    documents end-to-end in deterministic id order, then cut every
    `budget_tokens`.  Emits per doc its token count, global start
    offset, and the first/last sequence ids it lands in (a doc spans
    multiple sequences when it crosses a cut).

    Scale note: a window cumsum WITHOUT a partitionBy plans
    `Exchange SinglePartition` under WindowExec — the whole corpus
    funnels through one task, a 100-TB killer.  The global running
    offset is therefore computed the distributed way (the same
    frozen-boundary trick as relational.assign_row_ids):

      1. range-shard docs on frozen approxQuantile boundaries of
         `id_col` — the shard id is monotone in doc id, so
         per-shard order concatenates to the global order;
      2. one tiny per-shard token-sum aggregate -> driver-side
         exclusive prefix sums = shard BASE offsets (a handful of
         longs, broadcast back as a literal CASE chain);
      3. the cumsum window runs partitionBy(__shard) — every shard
         in parallel — and adds its base.

    Output is bit-identical to the naive global window (offsets are
    exact longs; boundary freezing makes both passes agree), but
    nothing ever concentrates on one node.

    The frozen-quantile sharding needs a NUMERIC id (approxQuantile's
    contract).  Non-numeric ids must pass `shard_col`: a column whose
    values are monotone non-decreasing in `id_col` order (a date or
    source prefix is the usual choice) — shards then cumsum in
    parallel exactly as the derived ones do."""
    from pyspark.sql.types import NumericType

    n_tok = F.size(tokens(text_col))
    if shard_col is not None:
        t = docs.select(
            F.col(id_col), F.col(shard_col).alias("__shard"),
            n_tok.alias("n_tokens"),
        )
    else:
        if not isinstance(docs.schema[id_col].dataType, NumericType):
            raise ValueError(
                f"sequence_pack shards on frozen quantiles of {id_col!r}, "
                "which requires a numeric id; for string ids pass "
                "shard_col= (any column monotone in id order, e.g. a "
                "date or source prefix)"
            )
        t = docs.select(F.col(id_col), n_tok.alias("n_tokens"))
        n_shards = docs.sparkSession.sparkContext.defaultParallelism
        bounds: list = []
        if n_shards > 1:
            probs = [i / n_shards for i in range(1, n_shards)]
            bounds = sorted(set(t.stat.approxQuantile(id_col, probs, 0.001)))
        shard = F.lit(0)
        for b in bounds:
            shard = shard + F.when(F.col(id_col) > F.lit(b), 1).otherwise(0)
        t = t.withColumn("__shard", shard.cast("int"))
    per_shard = {
        r["__shard"]: r["s"]
        for r in t.groupBy("__shard")
        .agg(F.sum("n_tokens").cast("long").alias("s"))
        .collect()
    }
    base_of: dict[int, int] = {}
    acc = 0
    for p in sorted(per_shard):
        base_of[p] = acc
        acc += per_shard[p]
    base = F.lit(0).cast("long")
    for p, off in base_of.items():
        base = F.when(F.col("__shard") == p, F.lit(off).cast("long")).otherwise(base)
    w = (
        Window.partitionBy("__shard")
        .orderBy(F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = (base + F.coalesce(F.sum("n_tokens").over(w), F.lit(0))).cast("long")
    return (
        t.withColumn("start_offset", start)
        .select(
            id_col,
            "n_tokens",
            "start_offset",
            F.floor(F.col("start_offset") / budget_tokens).cast("long").alias("first_seq"),
            F.floor(
                (F.col("start_offset") + F.greatest(F.col("n_tokens") - 1, F.lit(0)))
                / budget_tokens
            ).cast("long").alias("last_seq"),
        )
    )


def quantize_sq8(v: Column) -> Column:
    """Per-vector scalar quantization to uint8 codes (0..255) — 4x
    storage/bandwidth reduction for ANN shortlists, re-rankable against
    the full-precision vectors kept cold.

    Codes: round((x - min) / (max - min) * 255), degenerate
    constant vectors map to all-zeros.  All arithmetic is double and
    the inputs are float32-exact-in-double, so the codes are
    deterministic across engines (round(half-up) == round(half-away)
    here because the operand is non-negative).
    """
    mn = F.array_min(v).cast("double")
    mx = F.array_max(v).cast("double")
    return F.when(mx == mn, F.transform(v, lambda x: F.lit(0))).otherwise(
        F.transform(
            v,
            lambda x: F.round((x.cast("double") - mn) / (mx - mn) * 255.0, 0).cast(
                "int"
            ),
        )
    )


def dequantize_sq8(codes: Column, mn: Column, mx: Column) -> Column:
    """Inverse of quantize_sq8 given the stored per-vector (min, max)."""
    return F.transform(
        codes, lambda c: mn + c.cast("double") / 255.0 * (mx - mn)
    )


def ann_sq8_rerank(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage ANN: SQ8 coarse scan -> exact re-rank of a shortlist.

    Stage 1 scores every corpus vector against each query using the
    DEQUANTIZED SQ8 codes (quantize_sq8) — at 100 TB this is the stage
    that touches the whole corpus, and it reads the 4x-smaller code
    table (int8 codes + two floats per vector) instead of the
    full-precision embeddings; per-query top-`shortlist` survives.
    Stage 2 joins only the shortlist back to the full-precision
    vectors and re-ranks exactly — the standard recall repair for
    quantization error (shortlist >> k makes recall@k -> 1).

    Output schema matches cosine_topk, so the exact brute-force result
    is the recall yardstick (tests/test_llm.py).
    """
    q = emb.where(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        vector_norm(F.col(vec_col)).alias("q_norm"),
    )
    mn = F.array_min(vec_col).cast("double")
    mx = F.array_max(vec_col).cast("double")
    # dequantize + norm ONCE PER VECTOR before the fan-out — inside the
    # crossJoin projection they would be re-evaluated once per
    # (query, neighbor) pair, multiplying the array work by #queries
    code_table = emb.select(
        F.col(id_col).alias("neighbor_id"),
        dequantize_sq8(
            quantize_sq8(F.col(vec_col)), mn, mx
        ).alias("a_vec"),
    ).select(
        "neighbor_id",
        "a_vec",
        vector_norm(F.col("a_vec")).alias("a_norm"),
    )
    coarse = (
        F.broadcast(q)
        .crossJoin(code_table)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                dot_product(F.col("q_vec"), F.col("a_vec"))
                / F.nullif(F.col("q_norm") * F.col("a_norm"), F.lit(0.0))
            ).alias("approx_cosine"),
        )
    )
    w_coarse = Window.partitionBy("query_id").orderBy(
        F.col("approx_cosine").desc(), F.col("neighbor_id").asc()
    )
    survivors = (
        coarse.withColumn("crank", F.row_number().over(w_coarse))
        .where(F.col("crank") <= shortlist)
        .select("query_id", "neighbor_id")
    )
    full = emb.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("n_vec"))
    rescored = (
        survivors.join(full, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("q_vec"), F.col("n_vec")).alias("raw_cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("raw_cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        rescored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("raw_cosine"), 6).alias("cosine"),
            "rank",
        )
    )


def cosine_vs_query_pandas(query_vec: list[float]):
    """Scalar Arrow-batched pandas UDF (Iterator[Series] -> Series):
    cosine of every corpus vector against one query vector, computed
    as a single numpy matmul per Arrow batch.

    Completes the UDF matrix next to mapInPandas / applyInPandas /
    cogroup / UDTF / applyInPandasWithState: the SERIES->SERIES scalar
    form is the right tool when a per-row computation vectorizes
    across the batch (np.stack + matvec here) better than a JVM-side
    higher-order fold over wide arrays.  The Iterator variant is used
    so the query vector is normalized ONCE per partition, not per
    batch — the standard amortized-init pattern (at scale: loading a
    codebook / model weights).

    Float caveat: numpy dot uses SIMD/pairwise accumulation, so the
    last ULP can differ from the sequential F.aggregate fold —
    verified equal to 1e-9 in tests, never hashed in an oracle.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")  # Iterator[pd.Series] hints resolve from module globals
    def _cos(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        q = np.asarray(query_vec, dtype=np.float64)
        qn = float(np.sqrt((q * q).sum())) or 1.0
        qu = q / qn
        for s in batches:
            m = np.stack(s.to_numpy()).astype(np.float64)
            norms = np.sqrt((m * m).sum(axis=1))
            norms[norms == 0.0] = 1.0
            yield pd.Series((m @ qu) / norms)

    return _cos


class DedupIndex:
    """Persistent incremental near-dup index: the production shape of
    corpus dedup at 100 TB, built on the snapshot table format.

    The corpus's MinHash band buckets and shingle sets are STORED
    (computed once per document, ever) in two snapshot tables under
    `root`; each `ingest(batch)` then costs O(batch): bucket the new
    docs, equi-join against the stored bucket table, verify candidates
    by exact Jaccard against the stored shingle sets, and append the
    batch's buckets+shingles — never re-hashing or re-scanning the
    corpus text.

    Correctness properties (pytest, tests/test_llm.py):
      * candidate joins read the index pinned to the PRE-batch version
        (manifest time travel), so the returned pairs DataFrame stays
        lazy-safe — evaluating it after the append cannot make the
        batch match itself;
      * with `batch_id`, both appends are exactly-once (the Delta-txn
        guard): a replayed batch adds nothing, and the replay returns
        the SAME pairs by resolving the pre-batch version from the
        commit history (append_once commits record app/batch ids);
      * the index reopens from disk — state lives in the manifests.

    `max_bucket_size` is the corpus-side hot-bucket cap (same trade as
    cross_corpus_near_dup).  Within-batch duplicates are out of scope
    here — run near_dup_pairs on the batch first."""

    def __init__(
        self,
        spark,
        root: str,
        threshold: float = 0.5,
        num_hashes: int = 32,
        shingle_k: int = 3,
        bands: int = 8,
        max_bucket_size: int | None = None,
        id_col: str = "doc_id",
        text_col: str = "text",
    ):
        from pixelspark.table import SnapshotTable

        self.spark = spark
        self.threshold = threshold
        self.num_hashes = num_hashes
        self.shingle_k = shingle_k
        self.bands = bands
        self.max_bucket_size = max_bucket_size
        self.id_col = id_col
        self.text_col = text_col
        self.buckets = SnapshotTable(spark, f"{root.rstrip('/')}/buckets")
        self.shingles = SnapshotTable(spark, f"{root.rstrip('/')}/shingles")

    @staticmethod
    def _pre_batch_version(table, app_id: str, batch_id: int) -> int | None:
        """Version of `table` just BEFORE (app_id, batch_id) committed —
        for fresh batches that is the current latest; for a replay, the
        commit history locates the original append.  Resolved PER
        table: a crash between the two appends of one ingest leaves the
        tables at different version numbers, but each pin still lands
        on its own pre-batch content."""
        v = table.latest_version()
        if v is None:
            return None
        last = table.manifest(v).get("txn", {}).get(app_id)
        if last is None or last < batch_id:
            return v  # fresh batch: index state = everything before it
        for h in table.history():  # replay: find the original commit
            op = h["op"]
            if (op.get("name") == "append_once" and op.get("app_id") == app_id
                    and op.get("batch_id") == batch_id):
                return h["version"] - 1 or None
        # committed under an older retention-pruned history: no way to
        # reproduce the original answer
        raise ValueError(
            f"batch {batch_id} of {app_id!r} already committed but its "
            "commit is no longer in history (vacuumed); cannot replay pairs"
        )

    def ingest(
        self,
        docs: DataFrame,
        app_id: str = "dedup-index",
        batch_id: int | None = None,
    ) -> DataFrame:
        """Near-dup pairs (id_a = corpus doc, id_b = batch doc,
        jaccard) of `docs` against the index as of before this batch,
        then append the batch's artifacts (exactly-once when
        `batch_id` is given)."""
        # the batch is shingled once: its sets feed its buckets, its
        # stored `sh` rows and the verification join
        sets_new, b_new = _portable_artifacts(
            docs, self.id_col, self.text_col, self.num_hashes,
            self.shingle_k, self.bands,
        )
        sh_new = sets_new.withColumnRenamed("shset", "sh")
        if batch_id is not None:
            read_v = self._pre_batch_version(self.buckets, app_id, batch_id)
            sh_v = self._pre_batch_version(self.shingles, app_id, batch_id)
        else:
            read_v = self.buckets.latest_version()
            sh_v = self.shingles.latest_version()

        if read_v is None or sh_v is None:
            # empty index (or a first-ingest crash left only buckets):
            # nothing can verify, so nothing matches
            pairs = self.spark.createDataFrame(
                [], "id_a long, id_b long, jaccard double"
            )
        else:
            be = _capped(self.buckets.read(version=read_v), _BAND, self.max_bucket_size)
            corpus_sets = self.shingles.read(version=sh_v).withColumnRenamed("sh", "shset")
            pairs = _verified(
                _candidate_pairs(be, b_new, _BAND, self.id_col),
                corpus_sets, sets_new, self.id_col, self.threshold,
            )

        if batch_id is not None:
            self.buckets.append_once(b_new, app_id, batch_id)
            self.shingles.append_once(sh_new, app_id, batch_id)
        else:
            self.buckets.append(b_new)
            self.shingles.append(sh_new)
        return pairs

    def forget(self, ids, mode: str = "dv") -> None:
        """Erase documents from the index (retention expiry, takedown,
        GDPR): deletion-vector commits on BOTH artifact tables mask
        the ids' bucket rows and shingle sets in O(matched) bytes, so
        the next ingest can no longer pair against them — without
        rewriting artifacts computed for the rest of the corpus.
        Version pinning keeps replay honest: a re-delivered (app_id,
        batch_id) still reads its pre-batch versions, which predate
        the forget, so it reproduces its ORIGINAL pairs — exactly-once
        means the answer cannot change under replay.  Physical
        erasure = compact() + vacuum, as with any DV delete."""
        doomed = F.col(self.id_col).isin(list(ids))
        self.buckets.delete(doomed, mode=mode)
        self.shingles.delete(doomed, mode=mode)

    def compact(
        self, num_files: int = 8, recap_hot_buckets: bool = False
    ) -> None:
        """Maintenance: fold the per-ingest appended entries of both
        artifact tables into one snap dir each, so a 10-ingest index
        reads (and probes) like a 1-ingest index — the append-only
        growth otherwise widens every candidate join's scan union by
        one entry per batch.

        `recap_hot_buckets=True` additionally MATERIALIZES the
        `max_bucket_size` cap: bucket rows whose (band_idx, band_key)
        group exceeds the cap are dropped from the stored table
        outright.  Probes already ignore them (the query-time
        hot-bucket filter), so results are unchanged — but after
        re-capping, ingest stops re-aggregating and re-shipping the
        boilerplate rows on every batch.  The rewrite is a normal
        snapshot commit: streaming-txn watermarks carry over (replay
        protection survives), and pre-compact versions stay
        time-travelable until vacuum, so `batch_id` replays still
        reproduce their original pairs."""
        if recap_hot_buckets and self.max_bucket_size is not None:
            # the overwrite IS the buckets compaction (one new dir);
            # the SAME cap rule probes apply at query time (_capped)
            # is what gets materialized, so the two can never drift
            self.buckets.overwrite(
                _capped(self.buckets.read(), _BAND, self.max_bucket_size)
            )
        else:
            self.buckets.compact(num_files=num_files)
        self.shingles.compact(num_files=num_files)
