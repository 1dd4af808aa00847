"""Text-analysis operators for training-data pipelines.

All JVM-side expressions (regex / array built-ins) — at 100 TB these
run inside whole-stage codegen with zero Python cost. Heuristics are
deliberately simple and deterministic so they are oracle-checkable;
swap in model-based scorers behind the same column contract.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def word_gram_table(df, text_col="text", id_col="doc_id", n=3, distinct=False):
    """(id, gram) long table of word ``n``-grams — THE gram builder
    (shingling, repetition, decontamination all route here).

    Relational/codegen form: ``posexplode`` the raw lowercase split,
    drop empties with a row filter (tokenize()'s array-filter HOF
    evaluates interpreted per word — measured ~2× the whole shingling
    cost at sf0.1), form grams with ``lead`` windows (row-based, so
    position gaps from removed empties don't matter), drop incomplete
    tail grams.

    The doc frame is hash-repartitioned by id BEFORE the explode
    (r12, guide §2.3/§3.3 "explode multiplies the shuffle"): the
    ``lead`` window needs hash(id) clustering either way, so the one
    unavoidable exchange moves ~n× fewer, far narrower rows (docs,
    not grams — each word rides ``n`` grams after the explode, plus
    per-row shuffle overhead ×words), and the split+explode work is
    spread across the cluster instead of running inside the scan
    task of what is typically a small delta/batch frame (measured
    sf0.1 warm: 0.56-0.75 s → 0.49-0.51 s for a delta batch's
    shingle stage). No explicit partition count — the config
    default scales it, and AQE may coalesce."""
    from pyspark.sql import Window

    words = (
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t"))
        .repartition("id")
        .select(
            "id",
            F.posexplode(
                F.split(F.lower(F.col("__t")), "[^a-z0-9]+")
            ).alias("pos", "w"),
        )
        .filter(F.col("w") != "")
    )
    win = Window.partitionBy("id").orderBy("pos")
    parts = [F.col("w")] + [F.lead("w", k).over(win) for k in range(1, n)]
    grams = (
        words.select(
            "id",
            F.concat_ws(" ", *parts).alias("gram"),
            parts[-1].alias("__last"),
        )
        .filter(F.col("__last").isNotNull())
        .select("id", "gram")
    )
    return grams.distinct() if distinct else grams

def word_gram_table_pos(df, text_col="text", id_col="doc_id", n=3):
    """(id, start, gram) long table of word ``n``-grams WITH the
    1-based word position of each gram's first word — the positional
    sibling of :func:`word_gram_table` for span-level operators
    (duplicate-span dedup needs to say WHERE a repeated span sits).

    ``start`` counts non-empty words (empties from the split are
    filtered before numbering), so it matches an oracle that indexes
    a filtered word list. Same relational/codegen shape: posexplode,
    row_number renumber, lead windows, tail-gram filter — and the
    same pre-explode repartition as :func:`word_gram_table` (the
    windows need hash(id) clustering; exchanging docs beats
    exchanging words)."""
    from pyspark.sql import Window

    words = (
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t"))
        .repartition("id")
        .select(
            "id",
            F.posexplode(
                F.split(F.lower(F.col("__t")), "[^a-z0-9]+")
            ).alias("pos", "w"),
        )
        .filter(F.col("w") != "")
    )
    win = Window.partitionBy("id").orderBy("pos")
    numbered = words.withColumn("start", F.row_number().over(win))
    parts = [F.col("w")] + [F.lead("w", k).over(win) for k in range(1, n)]
    return (
        numbered.select(
            "id",
            "start",
            F.concat_ws(" ", *parts).alias("gram"),
            parts[-1].alias("__last"),
        )
        .filter(F.col("__last").isNotNull())
        .select("id", "start", "gram")
    )


def duplicate_spans(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    min_count: int = 2,
):
    """Exact duplicate-span detection (the word-level shape of Lee et
    al. 2022's 'Deduplicating Training Data Makes Language Models
    Better' substring dedup — public): every position where a word
    ``n``-gram occurs ``min_count``+ times corpus-wide, with the
    occurrence count. Downstream removal can cut exactly those spans
    instead of whole documents — the precision win over document-level
    near-dedup for boilerplate (headers, licenses, templates).

    Where the paper builds a suffix array (inherently sequential),
    this is two keyed shuffles that Spark does well at 100 TB: a
    gram-count aggregate (map-side combinable; the gram key is hashed
    to a compact span id via md5 so the shuffle carries no long
    strings beyond the first aggregate) and a semi-join of positions
    against the repeated grams. Fixed ``n`` trades the paper's
    maximal-match lengths for full distribution; adjacent flagged
    positions reconstruct longer matches (a run of k flagged starts =
    one duplicated span of k+n-1 words)."""
    pos = word_gram_table_pos(df, text_col, id_col, n)
    keyed = pos.select(
        "id", "start", F.md5(F.col("gram")).alias("span_hash")
    )
    repeated = (
        keyed.groupBy("span_hash")
        .agg(F.count(F.lit(1)).alias("n_dups"))
        .filter(F.col("n_dups") >= int(min_count))
    )
    return keyed.join(repeated, "span_hash").select(
        F.col("id").alias(id_col), "start", "span_hash", "n_dups"
    )


def scrub_duplicate_spans(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    min_count: int = 2,
):
    """Rewrite documents with duplicated spans REMOVED, keeping the
    corpus-wide first occurrence (min (doc, start)) of each span —
    the action step on :func:`duplicate_spans`' report, matching Lee
    et al. 2022's remove-all-but-one policy at word granularity.

    Pipeline (all keyed shuffles): positional grams → repeated span
    hashes → first-occurrence exclusion (one min-aggregate) → flagged
    starts explode to covered word indexes (n rows per flagged start,
    distinct) → anti-join against the word table → per-doc ordered
    reassembly (sort_array over (pos, word) structs — no global
    sort). Word positions are 1-based over the filtered word list;
    ``scrubbed_text`` is the surviving words joined by single spaces
    (original inter-word whitespace is not preserved — span dedup
    operates on the normalized token stream)."""
    from pyspark.sql import Window

    words = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.split(F.lower(F.col(text_col)), "[^a-z0-9]+")
        ).alias("pos", "w"),
    ).filter(F.col("w") != "")
    win = Window.partitionBy("id").orderBy("pos")
    numbered = words.select(
        "id", F.row_number().over(win).alias("p"), "w"
    )
    occ = duplicate_spans(df, text_col, id_col, n, min_count).select(
        F.col(id_col).alias("id"), "start", "span_hash"
    )
    first = occ.groupBy("span_hash").agg(
        F.min(F.struct("id", "start")).alias("__f")
    )
    flagged = (
        occ.join(first, "span_hash")
        .filter(
            ~(
                (F.col("id") == F.col("__f.id"))
                & (F.col("start") == F.col("__f.start"))
            )
        )
        .select("id", "start")
    )
    covered = flagged.select(
        "id",
        F.explode(
            F.sequence(F.col("start"), F.col("start") + (n - 1))
        ).alias("p"),
    ).distinct()
    kept = numbered.join(covered, ["id", "p"], "left_anti")
    rebuilt = kept.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("p", "w"))),
                lambda s: s["w"],
            ),
            " ",
        ).alias("scrubbed_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    totals = numbered.groupBy("id").agg(
        F.count(F.lit(1)).alias("__total")
    )
    return (
        df.select(F.col(id_col).alias("id"))
        .join(totals, "id", "left")
        .join(rebuilt, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("scrubbed_text", F.lit("")).alias("scrubbed_text"),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            (
                F.coalesce("__total", F.lit(0))
                - F.coalesce("n_kept", F.lit(0))
            ).alias("n_removed"),
        )
    )


# Tiny per-language stopword markers for the n-gram language heuristic.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of"],
    "fr": ["le", "la", "et"],
    "de": ["der", "und", "die"],
    "es": ["el", "los", "que"],
}

_WORD_RX = "[a-z0-9]+"
# BPE-ish segmentation: alnum runs OR single non-alnum-non-space marks.
_TOKEN_RX = "[A-Za-z0-9]+|[^A-Za-z0-9\\s]"


def _c(col: str | Column) -> Column:
    return F.col(col) if isinstance(col, str) else col


def tokenize(col: str | Column) -> Column:
    """Lowercased word array (empty strings filtered)."""
    words = F.split(F.lower(_c(col)), "[^a-z0-9]+")
    return F.filter(words, lambda w: w != "")


def token_count(col: str | Column, mode: str = "bpe") -> Column:
    """Token count: ``mode='ws'`` whitespace words, ``mode='bpe'`` a
    BPE-ish regex (alnum runs + individual punctuation marks)."""
    if mode == "ws":
        return F.size(F.filter(F.split(_c(col), "\\s+"), lambda w: w != ""))
    return F.size(F.regexp_extract_all(_c(col), F.lit(_TOKEN_RX), 0))


def lang_id(col: str | Column, default: str = "und") -> Column:
    """N-gram-marker language guess: score = number of marker-word
    hits per language, pick the max (ties broken by fixed language
    order). Pure expression — no UDF, no model.

    Let-bound twice over single-element ``transform``s (r12, the
    quality_score pattern): the padded-lowercase text feeds all 12
    marker splits, and each language's score is referenced by BOTH
    the ``greatest`` and its ``when`` arm — without the bindings the
    non-codegen Project (array lambdas disable codegen, and there is
    no interpreted CSE) re-ran ``lower`` 12× and every whole-text
    split 2× per row. Bound, each runs once; references are variable
    reads. Same comparisons in the same order — identical labels."""
    langs = list(LANG_MARKERS)

    def _pick(scores: Column) -> Column:
        best = F.greatest(*[scores[i] for i in range(len(langs))])
        expr = F.when(best <= 0, F.lit(default))
        for i, lang in enumerate(langs):
            expr = expr.when(scores[i] == best, F.lit(lang))
        return expr.otherwise(F.lit(default))

    def _scores(c: Column) -> Column:
        scores = []
        for markers in LANG_MARKERS.values():
            score = None
            for m in markers:
                hits = (
                    F.size(F.split(c, f" {m} ")) - 1
                )  # non-overlapping marker occurrences
                score = hits if score is None else score + hits
            scores.append(score)
        return F.array(*scores)

    padded = F.concat(F.lit(" "), F.lower(_c(col)), F.lit(" "))
    return F.transform(
        F.array(padded),
        lambda c: F.transform(F.array(_scores(c)), _pick)[0],
    )[0]


#: The exact character set the quality score's punctuation class
#: ``[^A-Za-z0-9\s]`` EXCLUDES: ASCII alphanumerics plus Java regex
#: ``\s`` (space, tab, LF, VT, FF, CR). ``translate`` deletes these,
#: so ``length(translate(c, KEEP, ''))`` == the old regex match count.
_QUALITY_KEEP_CHARS = (
    "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
    "abcdefghijklmnopqrstuvwxyz"
    "0123456789 \t\n\x0b\f\r"
)


def quality_score(col: str | Column) -> Column:
    """Composite document-quality score in [0,1]: length band,
    punctuation ratio, stopword ratio — the standard cheap filters in
    LLM data pipelines (C4-style), as one expression.

    The word array is let-bound via a single-element ``transform``
    (r12, guide §1.2 per-task work): the stop-score arm references
    the tokenization three times (word count twice, stopword filter
    once), and because array lambdas keep the whole Project off the
    codegen path there is no common-subexpression elimination —
    the split+filter ran three times per row (visible verbatim in
    the physical plan). Binding it to a lambda variable evaluates it
    once; inside the lambda, references are variable reads. Same
    arithmetic on the same values — bit-identical scores (oracle
    x3 replays it)."""
    c = _c(col)
    n = F.length(c)
    stop = F.array([F.lit(w) for ws in LANG_MARKERS.values() for w in ws])
    # punctuation COUNT via translate (r13): delete exactly the
    # characters the old ``[^A-Za-z0-9\s]`` class excluded (Java's \s
    # == [ \t\n\x0B\f\r], no unicode flag) and count what remains —
    # a per-char dictionary lookup instead of a regex engine pass,
    # measured 2.1 s -> 0.31 s on the sf1 corpus scan with ZERO value
    # mismatches (the regex matched one char per hit, so the counts
    # are equal by construction; non-ASCII chars are punct in both
    # forms). regexp_extract_all additionally materialized an array
    # of one-char match strings per row just to size() it.
    n_punct = F.length(F.translate(c, _QUALITY_KEEP_CHARS, ""))
    len_score = F.when((n >= 100) & (n <= 10000), 1.0).otherwise(0.5)
    punct_ratio = F.when(n > 0, n_punct / n).otherwise(F.lit(0.0))
    punct_score = F.when(punct_ratio <= 0.1, 1.0).otherwise(0.3)

    def _stop_score(words: Column) -> Column:
        n_words = F.size(words)
        n_stop = F.size(
            F.filter(words, lambda w: F.array_contains(stop, w))
        )
        stop_ratio = F.when(n_words > 0, n_stop / n_words).otherwise(
            F.lit(0.0)
        )
        return F.when(stop_ratio >= 0.05, 1.0).otherwise(0.6)

    stop_score = F.transform(F.array(tokenize(c)), _stop_score)[0]
    return (len_score + punct_score + stop_score) / 3.0


def fingerprint(col: str | Column, prefix_len: int = 256) -> Column:
    """Deterministic document fingerprint: position-weighted
    polynomial hash over the first ``prefix_len`` characters,
    computed as a *commutative* integer sum so it is partition-order
    independent and exactly reproducible in any engine:
    ``sum(ascii(ch_i) * (((i+1)*31) % 1000003)) % 2^31`` — the +1
    keeps the FIRST character's weight non-zero (a zero weight made
    every pair of docs differing only in char 0 collide)."""
    c = F.substring(_c(col), 1, prefix_len)
    chars = F.split(c, "")
    weighted = F.transform(
        chars,
        lambda ch, i: F.ascii(ch).cast("long") * (((i + 1) * 31) % 1000003),
    )
    total = F.aggregate(weighted, F.lit(0).cast("long"), lambda a, x: a + x)
    return (total % F.lit(2147483648)).cast("long")


def repetition_table(df, text_col: str = "text", id_col: str = "doc_id", n: int = 3):
    """Per-document repetition ratio: 1 − distinct/total word
    ``n``-grams — high values flag boilerplate and degenerate
    repetition (a standard corpus-quality gate alongside
    :func:`quality_score`).

    Routes through :func:`word_gram_table` (the shared relational
    gram builder — no array HOFs in the hot path); the shuffle is
    keyed by document id, so the window and aggregation stay within
    one exchange. Documents with fewer than ``n`` words score 0.0."""
    grams = word_gram_table(df, text_col, id_col, n)
    stats = grams.groupBy(F.col("id").alias(id_col)).agg(
        F.count(F.lit(1)).alias("__total"),
        F.countDistinct("gram").alias("__distinct"),
    )
    ratio = F.round(1.0 - F.col("__distinct") / F.col("__total"), 6)
    return (
        df.select(id_col)
        .join(stats, id_col, "left")
        .select(
            id_col,
            F.coalesce(
                F.when(F.col("__total") > 0, ratio), F.lit(0.0)
            ).alias("rep_ratio"),
        )
    )


#: Default ranked BPE merge list for :func:`bpe_encode_stats` —
#: learned offline from the documents corpus with the standard greedy
#: pair-count algorithm (an input parameter, like s2's hyperplanes;
#: x26_bpe_pair_stats is the distributed learner for refreshing it).
BPE_MERGES: list[tuple[str, str]] = [
    ("e", "r"), ("i", "n"), ("o", "w"), ("o", "r"), ("s", "t"),
    ("m", "er"), ("a", "t"), ("l", "u"), ("p", "a"), ("pa", "r"),
    ("o", "in"), ("j", "oin"),
]


def bpe_encode_stats(
    df,
    merges: list[tuple[str, str]] | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Apply a ranked BPE merge list and report per-document token
    statistics — the tokenizer-application step of a training
    pipeline (token budgeting, packing length estimates) as a PURE
    whole-stage-codegen expression chain: no UDF, no Python loop over
    rows, fully oracle-expressible.

    Encoding trick: each word becomes a ``,,``-delimited symbol
    string (``ab`` → ``,,a,,b,,``) and merge rank r rewrites
    ``,a,,b,`` → ``,ab,`` with plain ``replace`` — the double-comma
    boundary means (1) a pattern can never match across symbol or
    word boundaries or inside a longer symbol, and (2) a replacement
    consumes one comma from each side, leaving the neighbor's
    delimiter intact, so adjacent merge sites chain left-to-right in
    one pass — exactly the exhaustive leftmost-first application of
    standard BPE, one ``replace`` per merge rank. ``replace``'s
    leftmost non-overlapping scan is identical in Spark and DuckDB,
    so the result is engine-exact.

    Scale: per-word map (codegen) + one keyed aggregate. The merge
    list is a literal in the plan — keep it to O(100) ranks per
    expression tree (JVM 64KB method limit; chunk via multiple
    selects beyond that, the sc4 lesson)."""
    merges = BPE_MERGES if merges is None else merges
    words = word_gram_table(df, text_col, id_col, n=1)
    s = F.concat(
        F.lit(",,"),
        F.regexp_replace(F.col("gram"), "(.)", "$1,,"),
    )
    for a, b in merges:
        s = F.replace(s, F.lit(f",{a},,{b},"), F.lit(f",{a}{b},"))
    # symbols are separated (and wrapped) by exactly ',,': k symbols
    # ⇒ k+1 separators ⇒ token count = separator count − 1, a pure
    # string-length expression (no interpreted array HOF)
    n_toks = (
        F.length(s) - F.length(F.replace(s, F.lit(",,"), F.lit("")))
    ) / 2 - 1
    per_doc = words.groupBy(F.col("id").alias(id_col)).agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum(n_toks.cast("long")).alias("n_bpe_tokens"),
        F.sum(F.length("gram")).alias("__chars"),
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_words", F.lit(0)).alias("n_words"),
            F.coalesce("n_bpe_tokens", F.lit(0)).alias("n_bpe_tokens"),
            F.round(
                F.when(
                    F.col("n_bpe_tokens") > 0,
                    F.col("__chars") / F.col("n_bpe_tokens"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("chars_per_token"),
        )
    )


#: Gopher rules stopword list (Rae et al. 2021, Table A1 — public).
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_quality_table(df, text_col: str = "text", id_col: str = "doc_id"):
    """Gopher-style document quality gate (Rae et al. 2021, public
    filter set): word-count band [50, 100k], mean word length in
    [3, 10], symbol-to-word ratio (# / ellipsis) ≤ 0.1, ≥ 80% of
    words containing a letter, ≥ 2 stopwords from the Gopher list.

    Relational/codegen form: the per-word metrics ride
    :func:`word_gram_table` (n=1) into ONE map-side-combinable
    aggregate keyed by doc id — no interpreted array HOFs in the
    per-word path; the per-document scalars (# and ellipsis counts)
    are plain length expressions. Zero-word documents survive via the
    left join and fail the gate with zeroed metrics.

    Rule comparisons happen on the UNROUNDED doubles (integer/integer
    divisions — bit-exact across engines); the reported ratio columns
    are rounded for display/hashing only.
    """
    stop = F.array([F.lit(w) for w in GOPHER_STOPWORDS])
    words = word_gram_table(df, text_col, id_col, n=1)
    per_word = words.groupBy(F.col("id").alias(id_col)).agg(
        F.count(F.lit(1)).alias("__n_words"),
        F.sum(F.length("gram")).alias("__alnum_chars"),
        F.sum(
            F.when(F.col("gram").rlike("[a-z]"), 1).otherwise(0)
        ).alias("__n_alpha"),
        F.sum(
            F.when(F.array_contains(stop, F.col("gram")), 1).otherwise(0)
        ).alias("__n_stop"),
    )
    t = F.col(text_col)
    n_sym = (
        (F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit(""))))
        + (F.length(t) - F.length(F.replace(t, F.lit("..."), F.lit("")))) / 3
    ).cast("long")
    base = df.select(id_col, n_sym.alias("__n_sym")).join(
        per_word, id_col, "left"
    )
    n_words = F.coalesce(F.col("__n_words"), F.lit(0))
    mean_len = F.when(
        n_words > 0, F.col("__alnum_chars") / n_words
    ).otherwise(F.lit(0.0))
    frac_alpha = F.when(
        n_words > 0, F.col("__n_alpha") / n_words
    ).otherwise(F.lit(0.0))
    sym_ratio = F.when(
        n_words > 0, F.col("__n_sym") / n_words
    ).otherwise(F.lit(0.0))
    n_stop = F.coalesce(F.col("__n_stop"), F.lit(0))
    passes = (
        n_words.between(50, 100000)
        & mean_len.between(3.0, 10.0)
        & (sym_ratio <= 0.1)
        & (frac_alpha >= 0.8)
        & (n_stop >= 2)
    )
    return base.select(
        id_col,
        n_words.alias("n_words"),
        F.round(mean_len, 6).alias("mean_word_len"),
        F.round(frac_alpha, 6).alias("frac_alpha"),
        n_stop.alias("n_stop"),
        F.round(sym_ratio, 6).alias("symbol_ratio"),
        passes.alias("passes_gopher"),
    )


#: normalization patterns shared with the oracle SQL (POSIX classes —
#: portable between Java regex (Spark) and RE2 (DuckDB))
URL_RX = "https?://\\S+"
EMAIL_RX = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
SPACE_RX = "\\s+"
#: IPv4 before PHONE: a dotted quad is digits+dots and would
#: otherwise be eaten by the phone pattern
IPV4_RX = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
#: international-ish phone: leading + or digit, ≥7 phone chars
#: between digit anchors (both ends digits so trailing punctuation
#: survives). Stays in the Java∩RE2 syntax subset. RECALL over
#: precision by design (redaction must not leak): any long digit run
#: matches, so "2018 2019 2020" masks as one <PHONE> — tighten the
#: pattern per-corpus if that loss matters more than leaked numbers.
PHONE_RX = "\\+?[0-9][0-9()\\. -]{6,}[0-9]"


def normalize_text(col: str | Column) -> Column:
    """Corpus text normalization: URLs → ``<URL>``, emails →
    ``<EMAIL>`` (cheap PII masking), whitespace runs collapsed,
    edges trimmed. Pure JVM expression chain (three
    ``regexp_replace`` passes), no UDF; patterns stick to backslash
    classes (``\\s``/``\\S``) — the subset Java regex and RE2
    (DuckDB) interpret identically. POSIX bracket classes are NOT in
    that subset: Java parses ``[[:space:]]`` as a literal char class
    and eats matching letters."""
    c = _c(col)
    c = F.regexp_replace(c, URL_RX, "<URL>")
    c = F.regexp_replace(c, EMAIL_RX, "<EMAIL>")
    c = F.regexp_replace(c, SPACE_RX, " ")
    return F.trim(c)


def pii_scrub(col: str | Column) -> Column:
    """Full PII masking pass for corpus publication: everything
    :func:`normalize_text` masks (URLs, emails) plus IPv4 addresses
    and phone numbers — the redaction set a released training corpus
    needs. Same pure-JVM regexp chain, same Java∩RE2 pattern subset
    so the DuckDB oracle replays it literally. Order matters and is
    part of the contract: URL → EMAIL → IPV4 → PHONE → whitespace
    (an IP inside a URL is already gone; a dotted quad must be
    masked before the phone pattern could eat it)."""
    c = _c(col)
    c = F.regexp_replace(c, URL_RX, "<URL>")
    c = F.regexp_replace(c, EMAIL_RX, "<EMAIL>")
    c = F.regexp_replace(c, IPV4_RX, "<IP>")
    c = F.regexp_replace(c, PHONE_RX, "<PHONE>")
    c = F.regexp_replace(c, SPACE_RX, " ")
    return F.trim(c)


def token_topk(df, text_col: str = "text", k: int = 50, id_col: str = "doc_id"):
    """Exact corpus-wide token heavy hitters: (token, n) for the k
    most frequent lowercase-alnum tokens, ties broken by token
    (deterministic). Plan: the shared codegen gram builder at n=1
    (:func:`word_gram_table` — posexplode + row filter; the
    ``tokenize`` array HOF runs interpreted per element and measures
    ~2× the whole shingling cost) → hash-aggregate (map-side partial
    combine collapses each partition to its distinct tokens before
    the ONE shuffle) → ``orderBy().limit(k)``, which Spark executes
    as TakeOrdered — a per-partition top-k + a k-row merge on the
    driver, never a global sort. The vocabulary, not the corpus, is
    the shuffle volume.

    ``id_col`` is only needed by the gram builder's row bookkeeping;
    a frame that has just a text column (the pre-gram-builder
    contract of this helper) gets a constant id injected — the
    counts do not depend on it."""
    if id_col not in df.columns:
        df = df.withColumn(id_col, F.lit(0))
    counts = (
        word_gram_table(df, text_col=text_col, id_col=id_col, n=1)
        .groupBy(F.col("gram").alias("token"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return counts.orderBy(F.col("n").desc(), F.col("token").asc()).limit(k)


def bpe_train(
    df,
    n_merges: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """LEARN a BPE merge list from the corpus — the tokenizer
    TRAINING loop (Sennrich et al. 2016, public algorithm), not just
    its inner statistic (:func:`bpe_pair_stats`) or its application
    (:func:`bpe_encode_stats`). Returns one row per learned merge:
    ``(rank, lhs, rhs, merged, n)`` with ``n`` the
    word-frequency-weighted count the merge won with.

    Shape per round (the standard corpus reduction): the corpus is
    collapsed ONCE to its distinct words + counts (vocabulary-sized,
    cached); each round explodes the current symbol strings into
    adjacent symbol pairs (codegen split + element_at — no
    interpreted fold), aggregates weighted counts, takes the argmax
    (1 driver row — ties break on count desc, then left, then right
    text, both engines), and rewrites the vocabulary with the x37
    double-comma ``replace`` trick. This is a documented driver-loop
    island like k-means: ``n_merges`` rounds, each one vocab-sized
    aggregate; nothing driver-side scales with the corpus.

    Determinism: integer counts, total tiebreak order, and
    ``replace``'s leftmost non-overlapping scan — the whole training
    run is a pure function of the data, replayed by the catalog
    oracle as unrolled SQL CTEs (x30's k-means idiom).

    Merge-count bound (measured in round 9, probe in git history): on a
    50k-distinct-word corpus the loop sustains 200 genuine merges at
    a FLAT ~400 ms/merge on local[32] — the 200-deep replace chain
    survives codegen (Spark auto-splits oversized methods) and
    driver-side plan analysis stays negligible. Production
    tokenizers learn 10k-50k merges; beyond ~500, batch
    non-overlapping merges per round (and truncate lineage) before
    trusting this loop — linear per-round cost is measured, but
    analysis is O(n²) in principle."""
    vocab = (
        df.select(F.explode(tokenize(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.concat(
                F.lit(",,"),
                F.regexp_replace(F.col("w"), "(.)", "$1,,"),
            ).alias("s"),
            "n",
        )
        .cache()
    )
    merges: list[tuple[int, str, str, str, int]] = []
    cur = vocab
    for rank in range(1, int(n_merges) + 1):
        syms = F.filter(F.split(F.col("s"), ",,"), lambda x: x != "")
        pairs = (
            cur.select("n", syms.alias("sy"))
            .filter(F.size("sy") >= 2)
            .select(
                "n",
                F.explode(
                    F.sequence(F.lit(1), F.size("sy") - 1)
                ).alias("i"),
                "sy",
            )
            .select(
                F.element_at("sy", F.col("i")).alias("a"),
                F.element_at("sy", F.col("i") + 1).alias("b"),
                "n",
            )
            .groupBy("a", "b")
            .agg(F.sum("n").alias("cnt"))
        )
        top = pairs.orderBy(
            F.col("cnt").desc(), F.col("a").asc(), F.col("b").asc()
        ).limit(1).collect()
        if not top:
            break
        a, b, cnt = top[0]["a"], top[0]["b"], int(top[0]["cnt"])
        merges.append((rank, a, b, a + b, cnt))
        cur = cur.select(
            F.replace(
                F.col("s"), F.lit(f",{a},,{b},"), F.lit(f",{a}{b},")
            ).alias("s"),
            "n",
        )
    spark = df.sparkSession
    out = spark.createDataFrame(
        merges, "rank int, lhs string, rhs string, "
                "merged string, n long"
    )
    vocab.unpersist()
    return out


def bpe_pair_stats(
    df, text_col: str = "text", k: int = 50, id_col: str = "doc_id"
):
    """The inner step of BPE tokenizer training at corpus scale: the
    ``k`` most frequent ADJACENT character pairs, weighted by word
    frequency — the statistic each merge round of byte-pair encoding
    maximizes.

    Scale shape (the standard BPE corpus reduction): the corpus is
    first collapsed to its DISTINCT words with counts (one
    vocabulary-sized shuffle with map-side combine — the fan-out
    below runs over the vocabulary, never the corpus), then each
    word explodes into its ``len-1`` adjacent pairs via
    ``explode(sequence) + substring`` — pure codegen, no interpreted
    array HOFs — and pair counts aggregate weighted by the word
    count. Top-k executes as TakeOrdered (per-partition top-k + a
    k-row driver merge), ties broken by pair text."""
    words = (
        df.select(F.explode(tokenize(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.length("w") >= 2)
    )
    pairs = words.select(
        "n",
        F.explode(F.sequence(F.lit(1), F.length("w") - 1)).alias("i"),
        F.col("w"),
    ).select(F.expr("substring(w, i, 2)").alias("pair"), "n")
    counts = pairs.groupBy("pair").agg(F.sum("n").alias("n"))
    return counts.orderBy(F.col("n").desc(), F.col("pair").asc()).limit(k)
