"""Text-analysis functions for training-data pipelines over `documents`.

All pure Catalyst expressions (JVM-side, no UDFs): token counting
(whitespace + word-regex), quality scoring (length/punctuation/stopword
ratios), n-gram language heuristic, document fingerprinting (md5 — portable
to the DuckDB oracle), shingling for MinHash/Jaccard dedup.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# tiny per-language stopword probes (language-ID heuristic)
LANG_PROBES: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "et", "les", "est"],
    "es": ["el", "los", "que", "de", "es"],
}


def ws_token_count(text: Column) -> Column:
    """Whitespace tokenization count."""
    t = F.trim(text)
    return F.when(F.length(t) == 0, 0).otherwise(F.size(F.split(t, r"\s+")))


def word_token_count(text: Column) -> Column:
    """BPE-ish word/punct regex token count."""
    return F.size(F.regexp_extract_all(text, F.lit(r"\w+|[^\w\s]"), 0))


def punct_ratio(text: Column) -> Column:
    n_punct = F.length(F.regexp_replace(text, r"[\w\s]", ""))
    return n_punct.cast("double") / F.greatest(F.length(text), F.lit(1)).cast("double")


def alpha_ratio(text: Column) -> Column:
    n_alpha = F.length(F.regexp_replace(text, r"[^A-Za-z]", ""))
    return n_alpha.cast("double") / F.greatest(F.length(text), F.lit(1)).cast("double")


def mean_word_len(text: Column) -> Column:
    words = F.regexp_extract_all(F.lower(text), F.lit(r"[a-z]+"), 0)
    total = F.aggregate(words, F.lit(0), lambda acc, w: acc + F.length(w))
    return total.cast("double") / F.greatest(F.size(words), F.lit(1)).cast("double")


def stopword_hits(text: Column, lang: str) -> Column:
    """Count of stopword occurrences (word-bounded) for one language."""
    pat = r"\b(" + "|".join(LANG_PROBES[lang]) + r")\b"
    return F.size(F.regexp_extract_all(F.lower(text), F.lit(pat), 0))


def stopword_ratio(text: Column, lang: str = "en") -> Column:
    return stopword_hits(text, lang).cast("double") / F.greatest(ws_token_count(text), F.lit(1)).cast("double")


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality heuristic: long enough, mostly alphabetic,
    not punctuation-heavy, has stopwords (i.e. looks like prose)."""
    len_score = F.least(F.length(text).cast("double") / F.lit(500.0), F.lit(1.0))
    return F.round(
        F.lit(0.25) * len_score
        + F.lit(0.25) * alpha_ratio(text)
        + F.lit(0.25) * (F.lit(1.0) - F.least(punct_ratio(text) * 4.0, F.lit(1.0)))
        + F.lit(0.25) * F.least(stopword_ratio(text) * 5.0, F.lit(1.0)),
        6,
    )


def lang_guess(text: Column) -> Column:
    """argmax over language stopword hits; ties/zero → 'und' (undetermined).

    Deterministic tie-break: language order en > de > fr > es."""
    hits = {lang: stopword_hits(text, lang) for lang in LANG_PROBES}
    best = None
    expr = F.lit("und")
    # build when-chain: en wins ties by being checked first with >=
    ordered = list(LANG_PROBES)
    conds = []
    for lang in ordered:
        others = [hits[o] for o in ordered if o != lang]
        cond = hits[lang] > 0
        for o in others:
            cond = cond & (hits[lang] >= o)
        conds.append((lang, cond))
    chain = None
    for lang, cond in conds:
        chain = F.when(cond, lang) if chain is None else chain.when(cond, lang)
    return chain.otherwise("und")


def doc_fingerprint(text: Column) -> Column:
    """Normalized-content fingerprint: md5 of lowercase, whitespace-collapsed
    text — portable (identical in Spark and DuckDB)."""
    norm = F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")
    return F.md5(norm)


def shingles(text: Column, n: int = 3) -> Column:
    """Word n-gram shingles of the normalized text (array<string>)."""
    words = F.split(F.regexp_replace(F.lower(F.trim(text)), r"\s+", " "), " ")
    count = F.greatest(F.size(words) - F.lit(n - 1), F.lit(0))
    idx = F.sequence(F.lit(0), count - 1)
    return F.when(count <= 0, F.array().cast("array<string>")).otherwise(
        F.transform(idx, lambda i: F.concat_ws(" ", *[F.element_at(words, (i + j + 1).cast("int")) for j in range(n)]))
    )


def winnow_fingerprints(df, k: int = 8, w: int = 16):
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken MOSS
    scheme): hash every char k-gram of the normalized text, slide a window
    of w consecutive k-gram hashes, keep each window's minimum → the
    distinct minima are the doc's fingerprint set. Guarantees any match of
    length ≥ w+k-1 shares a fingerprint.

    Pure Catalyst: posexplode over the k-gram index sequence, min over a
    ROWS window — no UDFs; hashes are md5-derived (hash64) so the DuckDB
    oracle reproduces them bit-for-bit. Returns (doc_id, fp) distinct."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    n_grams = F.length(norm) - F.lit(k - 1)
    # guard: Spark's sequence(1, n) generates DESCENDING for n < 1
    idx = F.when(n_grams >= 1, F.sequence(F.lit(1), n_grams)).otherwise(
        F.array().cast("array<int>")
    )
    grams = df.select(
        "doc_id",
        F.posexplode(
            F.transform(idx, lambda i: norm.substr(i, F.lit(k)))
        ).alias("pos", "gram"),
    )
    hashed = grams.select("doc_id", "pos", hash64(F.col("gram")).alias("h"))
    win = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, w - 1)
    n_per_doc = Window.partitionBy("doc_id")
    fps = (
        hashed.withColumn("n", F.count("*").over(n_per_doc))
        .withColumn("fp", F.min("h").over(win))
        .filter(F.col("pos") <= F.col("n") - w)  # full windows only
        .select("doc_id", "fp")
        .distinct()
    )
    return fps


def hash64(col: Column) -> Column:
    """Portable 60-bit hash from md5 hex (same value in DuckDB via
    CAST(CONCAT('0x', substr(md5(x),1,15)) AS BIGINT))."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _top_bigram_kernel(df, id_col: str, text_col: str):
    """(doc_id, bigram, cnt) of each doc's most frequent lowercase word
    2-gram — NULL-free rows only (docs with < 2 words emit nothing; the
    caller's left join restores NULLs). Normalization parity with the
    expression path it replaces: strip ASCII spaces (Spark trim), lower,
    split on Java \\s runs, drop empties, join adjacent words with one
    space."""
    import re
    from collections import Counter

    import pandas as pd

    ws_re = re.compile(r"[ \t\n\x0b\f\r]+")

    def _top(batches):
        for pdf in batches:
            ids, bigrams, cnts = [], [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                if not isinstance(text, str):
                    continue
                words = [w for w in ws_re.split(text.strip(" ").lower()) if w]
                if len(words) < 2:
                    continue
                c = Counter(
                    a + " " + b for a, b in zip(words, words[1:])
                )
                bigram, cnt = max(c.items(), key=lambda kv: (kv[1], kv[0]))
                ids.append(doc_id)
                bigrams.append(bigram)
                cnts.append(cnt)
            yield pd.DataFrame({"doc_id": ids, "bigram": bigrams, "cnt": cnts})

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            df.schema[id_col],
            T.StructField("bigram", T.StringType()),
            T.StructField("cnt", T.LongType()),
        ]
    )
    # rename the id field to doc_id in the output schema
    schema = T.StructType(
        [T.StructField("doc_id", schema[0].dataType)] + list(schema)[1:]
    )
    # the kernel is row-independent: a round-robin spread over the cores,
    # not a key, decides which task a text goes to
    n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    return (
        df.select(F.col(id_col), F.col(text_col))
        .repartition(n_part)
        .mapInPandas(_top, schema)
    )


def repetition_stats(df, id_col: str = "doc_id", text_col: str = "text"):
    """Gopher-style repetition quality signals (Rae et al. 2021, §A1.1):
    scraped/boilerplate documents repeat themselves, and the repetition
    fractions are the standard filter features a training-data pipeline
    cuts on.

    Per document:

    * ``n_lines``              — non-empty trimmed lines
    * ``dup_line_frac``        — fraction of lines that are repeats of an
                                 earlier line
    * ``dup_line_char_frac``   — fraction of line characters inside those
                                 repeated occurrences
    * ``top_bigram``           — most frequent lowercase word 2-gram
                                 (ties broken by the lexicographically
                                 larger bigram; NULL when < 2 words)
    * ``top_bigram_frac``      — fraction of word characters covered by
                                 occurrences of that bigram

    Scale shape: the line-level fractions are pure array expressions
    (three ``aggregate`` higher-order sums per doc — constant count, not
    the per-bit fan-out pattern dedup.py kernelized) computed in their OWN
    map-only subplan; the bigram mode is a per-doc Counter in one Arrow
    kernel (r06 — the old explode → groupBy(doc, bigram) → row_number plan
    shuffled every bigram occurrence twice for a doc-LOCAL mode), and the
    two join on doc_id. Keeping the stats separate from the bigram side is
    load-bearing: the r05 first cut carried the stats columns THROUGH the
    explode and Catalyst re-evaluated every interpreted aggregate-lambda
    once per bigram row (measured 21 s vs 4 s at sf0.1). Both sides are
    keyed by doc_id, so skew is bounded by document length, never by
    corpus-wide token frequency. Matches the DuckDB oracle bit-for-bit
    (driver row ``doc_repetition_stats``)."""
    from pyspark.sql import Window

    text = F.col(text_col)
    lines = F.expr(
        f"filter(transform(split({text_col}, '\\n'), x -> trim(x)), x -> length(x) > 0)"
    )
    chars = lambda arr: F.coalesce(  # noqa: E731 — local sum-of-lengths helper
        F.aggregate(arr, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)),
        F.lit(0).cast("long"),
    )
    words = F.filter(
        F.split(F.lower(F.trim(text)), r"\s+"), lambda w: F.length(w) > 0
    )
    stats = df.select(
        F.col(id_col).alias("doc_id"),
        F.size(lines).cast("long").alias("n_lines"),
        F.size(F.array_distinct(lines)).cast("long").alias("n_distinct"),
        chars(lines).alias("line_chars"),
        chars(F.array_distinct(lines)).alias("d_chars"),
        chars(words).alias("word_chars"),
    )
    # top bigram per doc via ONE Arrow kernel (r06): the old
    # explode→groupBy(doc,bigram)→row_number plan shuffled every word-bigram
    # occurrence twice to find a per-DOC mode that a per-doc Counter computes
    # in place — doc-keyed work never needs a corpus-wide shuffle. Output is
    # integers + a string (no float rounding in the kernel), tie-break
    # max(cnt) then max(bigram) matches the window's DESC/DESC order
    # (python str comparison = code-point order = Spark's UTF8 binary order).
    top = _top_bigram_kernel(df, id_col, text_col)
    joined = stats.join(top, "doc_id", "left")
    dbl = lambda c: c.cast("double")  # noqa: E731
    return joined.select(
        "doc_id",
        "n_lines",
        F.round(dbl(F.col("n_lines") - F.col("n_distinct")) / F.greatest("n_lines", F.lit(1)), 6).alias("dup_line_frac"),
        F.round(dbl(F.col("line_chars") - F.col("d_chars")) / F.greatest("line_chars", F.lit(1)), 6).alias("dup_line_char_frac"),
        F.col("bigram").alias("top_bigram"),
        F.coalesce(
            F.round(F.col("cnt") * dbl(F.length("bigram") - 1) / F.greatest("word_chars", F.lit(1)), 6),
            F.lit(0.0),
        ).alias("top_bigram_frac"),
    )


def quality_gate(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mwl: float = 3.0,
    max_mwl: float = 10.0,
    min_alpha: float = 0.6,
    max_dup_line: float = 0.3,
    max_top_bigram: float = 0.2,
):
    """Gopher-style document quality gate (Rae et al. 2021, §A1.1): the
    keep/drop decision a training-data pipeline applies after computing the
    per-doc signals, with the failing rules named so the cut is auditable.

    Returns ``(doc_id, n_words, keep, reasons)`` — ``reasons`` is the
    comma-joined, alphabetically-ordered set of failed rules (``alpha``,
    ``dup_lines``, ``mean_word_len``, ``n_words``, ``top_bigram``), empty
    string ⇒ ``keep = true``. Thresholds compare the ROUNDED (6 dp)
    signals so engine and oracle agree bit-for-bit at rule boundaries.

    Scale: the scalar signals are map-side expressions; the only shuffles
    are repetition_stats' doc-keyed pair (see there) plus one doc_id join
    that AQE coalesces onto the same partitioning."""
    text = F.col(text_col)
    rep = repetition_stats(df, id_col, text_col).select(
        "doc_id", "dup_line_frac", "top_bigram_frac"
    )
    base = df.select(
        F.col(id_col).alias("doc_id"),
        ws_token_count(text).cast("long").alias("n_words"),
        F.round(mean_word_len(text), 6).alias("mwl"),
        F.round(alpha_ratio(text), 6).alias("alpha"),
    )
    j = base.join(rep, "doc_id")
    reasons = F.array_join(
        F.filter(
            F.array(
                F.when(F.col("alpha") < min_alpha, F.lit("alpha")),
                F.when(F.col("dup_line_frac") > max_dup_line, F.lit("dup_lines")),
                F.when((F.col("mwl") < min_mwl) | (F.col("mwl") > max_mwl), F.lit("mean_word_len")),
                F.when((F.col("n_words") < min_words) | (F.col("n_words") > max_words), F.lit("n_words")),
                F.when(F.col("top_bigram_frac") > max_top_bigram, F.lit("top_bigram")),
            ),
            lambda x: x.isNotNull(),
        ),
        ",",
    )
    return j.select(
        "doc_id",
        "n_words",
        reasons.alias("reasons"),
    ).withColumn("keep", F.length("reasons") == 0)


def corpus_token_topk(df, k: int = 50, id_col: str = "doc_id", text_col: str = "text"):
    """Corpus-wide top-k token frequencies (the vocabulary head a pipeline
    inspects for boilerplate/stopword drift). Lowercased ``[a-z0-9]+``
    tokens; deterministic order (count DESC, token ASC) and rank.

    Scale: explode is map-side; ONE partial-aggregated groupBy on token —
    the hot head tokens are exactly what partial aggregation collapses —
    then a global top-k via TakeOrdered (k rows to the driver plan, no full
    sort materialized)."""
    toks = df.select(
        F.explode(F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(r"[a-z0-9]+"), 0)).alias("token")
    )
    counts = toks.groupBy("token").agg(F.count("*").alias("cnt"))
    topk = counts.orderBy(F.desc("cnt"), F.asc("token")).limit(k)
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("cnt"), F.asc("token"))
    return topk.withColumn("rank", F.row_number().over(w))


def unigram_surprisal(df, id_col: str = "doc_id", text_col: str = "text"):
    """Per-document unigram LM surprisal — the CCNet-style (Wenzek et al.
    2020) language-model quality signal at unigram order: documents whose
    tokens are corpus-typical score low, gibberish / wrong-language / OCR
    noise scores high. The LM is the corpus itself (no OOV by
    construction); production pipelines swap in a reference-corpus vocab
    the same way (broadcast or join the frequency table).

    Per doc: ``n_tokens``, ``total_surprisal_micro`` = Σ floor(ln(N/cnt(t))
    · 1e6) over tokens (integer micro-nats — integer sums are
    order-independent so engines agree), and ``avg_surprisal_micro`` =
    floor(total / n).

    Scale shape: ONE token explode feeds both the vocabulary count
    (map-side combined groupBy) and the scoring join; the total-count side
    is a one-row aggregate cross-joined in. The token join is keyed by
    token — stopword-grade keys are hot but the payload is one long per
    row and AQE splits skewed partitions. Hash-checked vs DuckDB (driver
    row ``doc_surprisal``)."""
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.regexp_extract_all(F.lower(F.col(text_col)), F.lit("[a-z0-9]+"), 0)
        ).alias("tok"),
    )
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("n_total"))
    scored = toks.join(vocab, "tok").crossJoin(F.broadcast(total)).select(
        "doc_id",
        F.floor(
            F.log(F.col("n_total").cast("double") / F.col("cnt").cast("double"))
            * F.lit(1_000_000.0)
        ).cast("long").alias("lp_micro"),
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("lp_micro").alias("total_surprisal_micro"),
    )
    base = df.select(F.col(id_col).alias("doc_id"))
    return base.join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
        F.coalesce("total_surprisal_micro", F.lit(0)).cast("long").alias("total_surprisal_micro"),
        F.when(
            F.coalesce("n_tokens", F.lit(0)) > 0,
            F.floor(
                F.col("total_surprisal_micro").cast("double") / F.col("n_tokens")
            ).cast("long"),
        ).otherwise(F.lit(0)).alias("avg_surprisal_micro"),
    )
