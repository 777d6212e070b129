"""Text-analysis primitives for the training-data pipeline layer.

All hot-path expressions are built-in `pyspark.sql.functions` (JVM-side,
codegen'd) — no Python UDFs. Each primitive has a DuckDB-SQL twin in
the `fluxdb_spark.catalog` package; the shared constants here keep the
two in lockstep.
"""

from __future__ import annotations

from pyspark.sql import Column, Window
from pyspark.sql import functions as F

from fluxdb_spark.functions.hashing import hash60, hash60_sql

# Marker stopword sets for the n-gram/stopword language-ID heuristic.
# Deterministic tie-break order: en, es, de, fr (then 'und').
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "a", "to", "in"],
    "es": ["el", "la", "de", "los", "y", "que"],
    "de": ["der", "die", "das", "und", "ist"],
    "fr": ["le", "la", "les", "et", "une"],
}

STOPWORDS = sorted({w for ws in LANG_MARKERS.values() for w in ws})

WORD_RE = "[a-z]+|[0-9]+"  # BPE-ish word/number pieces


def tokens(text: Column) -> Column:
    return F.split(text, " ")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def wordpiece_count(text: Column) -> Column:
    """Regex token count over lowercased text (the BPE-ish approximation)."""
    return F.size(F.regexp_extract_all(F.lower(text), F.lit(WORD_RE), F.lit(0)))


def marker_hits(text: Column, markers: list[str]) -> Column:
    """How many tokens fall in a marker set (JVM-side higher-order fn)."""
    return F.size(F.filter(tokens(text), lambda t: t.isin(*markers)))


def quality_score(text: Column) -> Column:
    """Deterministic quality heuristic in [0,1]: length saturation +
    stopword presence, arithmetic only. Truncated with floor (not round):
    the raw double is bit-identical across engines, while decimal rounding
    modes differ exactly at .xxxx5 boundaries."""
    n = token_count(text)
    length_part = F.least(n / F.lit(100.0), F.lit(1.0))
    raw = 0.5 * length_part + 0.5 * (
        marker_hits(text, STOPWORDS) / n
    )
    return F.floor(raw * 10000) / 10000.0


def lang_scores(text: Column) -> dict[str, Column]:
    return {lang: marker_hits(text, ws) for lang, ws in LANG_MARKERS.items()}


def lang_id(text: Column) -> Column:
    """Argmax over marker-set hit counts with fixed tie-break order;
    'und' when no marker hits at all."""
    s = lang_scores(text)
    en, es, de, fr = s["en"], s["es"], s["de"], s["fr"]
    return (
        F.when((en >= es) & (en >= de) & (en >= fr) & (en > 0), F.lit("en"))
        .when((es >= de) & (es >= fr) & (es > 0), F.lit("es"))
        .when((de >= fr) & (de > 0), F.lit("de"))
        .when(fr > 0, F.lit("fr"))
        .otherwise(F.lit("und"))
    )


# --- SQL twin fragments (DuckDB) ------------------------------------------


def sql_marker_hits(expr: str, markers: list[str]) -> str:
    lst = ", ".join(f"'{m}'" for m in markers)
    return (
        f"len(list_filter(string_split({expr}, ' '), t -> t IN ({lst})))"
    )


def sql_token_count(expr: str) -> str:
    return f"len(string_split({expr}, ' '))"


def sql_lang_id(expr: str) -> str:
    s = {
        lang: sql_marker_hits(expr, ws) for lang, ws in LANG_MARKERS.items()
    }
    return f"""CASE
      WHEN {s['en']} >= {s['es']} AND {s['en']} >= {s['de']} AND {s['en']} >= {s['fr']} AND {s['en']} > 0 THEN 'en'
      WHEN {s['es']} >= {s['de']} AND {s['es']} >= {s['fr']} AND {s['es']} > 0 THEN 'es'
      WHEN {s['de']} >= {s['fr']} AND {s['de']} > 0 THEN 'de'
      WHEN {s['fr']} > 0 THEN 'fr'
      ELSE 'und' END"""


# --- blocklist screening (C4's "bad words" drop rule) -----------------------

# Demo list over the synthetic vocabulary; production passes its own.
BLOCKLIST = ["dup", "slow"]


def blocklist_screen(
    docs,
    blocklist: list[str] | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep: str = "all",
):
    """C4's blocklist rule (any document containing a listed word is
    dropped), as a map-side screen: per document the EXACT-token hit
    count (no substring matches — "duplicate" never trips "dup") and the
    flag. `keep="clean"` applies the drop; `keep="all"` returns the
    audit form. Pure JVM higher-order filter over the token array — the
    screen runs at scan speed on any corpus size."""
    if keep not in ("all", "clean"):
        raise ValueError(f"keep must be all|clean: {keep}")
    bl = BLOCKLIST if blocklist is None else blocklist
    hits = marker_hits(F.col(text_col), bl)
    out = docs.select(
        F.col(id_col),
        F.col(text_col),
        *[c for c in docs.columns if c not in (id_col, text_col)],
        hits.alias("blocklist_hits"),
        (hits > 0).alias("flagged"),
    )
    return out.filter(~F.col("flagged")) if keep == "clean" else out


# --- quality filtering (Gopher/C4-style rules) -----------------------------

# Rule thresholds (the Gopher paper's word-level subset; the line/paragraph
# rules are omitted because this corpus is single-line synthetic text —
# they would pass vacuously on every document).
QF_MIN_WORDS = 50
QF_MAX_WORDS = 100_000
QF_MIN_MEAN_LEN = 3.0
QF_MAX_MEAN_LEN = 10.0
QF_MIN_DISTINCT_STOPWORDS = 2


def floor4(c: Column) -> Column:
    """Truncate to 4 decimals with floor — bit-identical across engines,
    unlike decimal rounding at .xxxx5 boundaries (see quality_score)."""
    return F.floor(c * 10000) / 10000.0


def quality_rules_from(toks: Column, dltoks: Column) -> dict[str, Column]:
    """`quality_rules` over PRE-HOISTED array columns: `toks` =
    `tokens(text)`, `dltoks` = `array_distinct(tokens(lower(text)))`.
    A caller that needs several rules at once should project the two
    arrays in a parent select and build the rules from the columns —
    the rule expressions reference each array once, where inlining the
    raw text re-splits it per rule (higher-order lambdas block
    Catalyst's subexpression elimination; profiled 5.4x on
    perceptron_features)."""
    n = F.size(toks)
    # mean word length over the RAW double; floor4 only when emitting
    total_len = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    mean_len = total_len / n
    n_stop = F.size(
        F.array_intersect(dltoks, F.array(*[F.lit(w) for w in STOPWORDS]))
    )
    ok_len = (n >= QF_MIN_WORDS) & (n <= QF_MAX_WORDS)
    ok_mean = (mean_len >= QF_MIN_MEAN_LEN) & (mean_len <= QF_MAX_MEAN_LEN)
    ok_stop = n_stop >= QF_MIN_DISTINCT_STOPWORDS
    return {
        "n_words": n,
        "mean_word_len": floor4(mean_len),
        "n_distinct_stopwords": n_stop,
        "ok_len": ok_len,
        "ok_mean_len": ok_mean,
        "ok_stopwords": ok_stop,
        "keep": ok_len & ok_mean & ok_stop,
    }


def quality_rules(text: Column) -> dict[str, Column]:
    """The per-document rule columns of `quality_filter`: raw statistics,
    one boolean per rule, and the conjunctive keep decision. Pure map-side
    JVM expressions — the filter runs at scan speed on any corpus size."""
    return quality_rules_from(
        tokens(text), F.array_distinct(tokens(F.lower(text)))
    )


def sql_quality_rules(expr: str) -> dict[str, str]:
    """DuckDB twin of `quality_rules` (same columns, same bits)."""
    lst = ", ".join(f"'{w}'" for w in STOPWORDS)
    n = sql_token_count(expr)
    total = f"list_sum(list_transform(string_split({expr}, ' '), t -> length(t)))"
    mean = f"({total} * 1.0 / {n})"
    n_stop = (
        f"len(list_intersect(list_distinct(string_split(lower({expr}), ' ')),"
        f" [{lst}]))"
    )
    ok_len = f"({n} >= {QF_MIN_WORDS} AND {n} <= {QF_MAX_WORDS})"
    ok_mean = f"({mean} >= {QF_MIN_MEAN_LEN} AND {mean} <= {QF_MAX_MEAN_LEN})"
    ok_stop = f"({n_stop} >= {QF_MIN_DISTINCT_STOPWORDS})"
    return {
        "n_words": n,
        "mean_word_len": f"floor({mean} * 10000) / 10000.0",
        "n_distinct_stopwords": n_stop,
        "ok_len": ok_len,
        "ok_mean_len": ok_mean,
        "ok_stopwords": ok_stop,
        "keep": f"({ok_len} AND {ok_mean} AND {ok_stop})",
    }


# --- repetition detection (Gopher repetition rules) ------------------------


def word_ngrams(text: Column, n: int) -> Column:
    """ALL n-word grams of lowercased text, duplicates KEPT (frequency
    counting needs multiplicity — `word_shingles` deduplicates). Token
    array bound once via the singleton-array transform (see word_shingles:
    HOF lambdas get no common-subexpression elimination)."""

    def _grams(toks: Column) -> Column:
        idx = F.sequence(F.lit(1), F.size(toks) - (n - 1), F.lit(1))
        body = F.transform(
            idx, lambda i: F.array_join(F.slice(toks, i, n), " ")
        )
        return F.when(F.size(toks) >= n, body).otherwise(
            F.array().cast("array<string>")
        )

    return F.element_at(
        F.transform(F.array(F.split(F.lower(text), " ")), _grams), 1
    )


def repetition_stats(docs, id_col: str = "doc_id", text_col: str = "text"):
    """Per-document repetition profile (the Gopher repetition-rule family,
    restricted to word/n-gram form — this corpus has no line structure):

    - dup_word_frac:   1 - |distinct words| / |words|
    - top_word_frac:   occurrences of the most frequent word / |words|
    - top_2gram_frac:  words covered by the most frequent 2-gram / |words|

    The fractions depend only on COUNTS (not on which gram wins a tie), so
    the result is deterministic without a tie-breaking total order.

    Scale shape: two explode->groupBy aggregations keyed (doc, term) — the
    shuffle carries one row per distinct term occurrence class, map-side
    combine keeps it at |distinct (doc, term)| rows, and no step is
    quadratic in document length or corpus size."""
    from fluxdb_spark.session import spread

    d = spread(docs)
    words = d.select(
        F.col(id_col), F.explode(tokens(F.lower(F.col(text_col)))).alias("w")
    )
    wc = words.groupBy(id_col, "w").agg(F.count(F.lit(1)).alias("c"))
    per_word = wc.groupBy(id_col).agg(
        F.sum("c").cast("long").alias("n_words"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("c").alias("top_w"),
    )
    grams = d.select(
        F.col(id_col),
        F.explode(word_ngrams(F.col(text_col), 2)).alias("g"),
    )
    per_gram = (
        grams.groupBy(id_col, "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy(id_col)
        .agg(F.max("c").alias("top_g"))
    )
    n_words = F.col("n_words")
    return (
        per_word.join(per_gram, on=id_col, how="left")
        .select(
            F.col(id_col),
            n_words,
            F.col("n_distinct"),
            floor4(1 - F.col("n_distinct") / n_words).alias("dup_word_frac"),
            floor4(F.col("top_w") / n_words).alias("top_word_frac"),
            floor4(
                F.coalesce(F.col("top_g"), F.lit(0)) * 2 / n_words
            ).alias("top_2gram_frac"),
        )
    )


SQL_REPETITION_STATS = """
WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
words AS (SELECT doc_id, unnest(t) AS w FROM toks),
wc AS (SELECT doc_id, w, count(*) AS c FROM words GROUP BY 1, 2),
pw AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
              count(*) AS n_distinct, max(c) AS top_w
       FROM wc GROUP BY 1),
grams AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(t)),
                i -> concat_ws(' ', t[i], t[i+1]))) AS g
  FROM toks WHERE len(t) >= 2),
gc AS (SELECT doc_id, g, count(*) AS c FROM grams GROUP BY 1, 2),
pg AS (SELECT doc_id, max(c) AS top_g FROM gc GROUP BY 1)
SELECT pw.doc_id, n_words, n_distinct,
       floor((1 - n_distinct * 1.0 / n_words) * 10000) / 10000.0 AS dup_word_frac,
       floor((top_w * 1.0 / n_words) * 10000) / 10000.0 AS top_word_frac,
       floor((coalesce(top_g, 0) * 2.0 / n_words) * 10000) / 10000.0 AS top_2gram_frac
FROM pw LEFT JOIN pg USING (doc_id)
"""


# --- PII detection / redaction ---------------------------------------------

# Dialect-portable patterns (identical semantics under Java regex and RE2:
# plain character classes and counted repetition only — no lookaround, no
# \b, no backreferences).
EMAIL_RE = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z][a-z]+"
PHONE_RE = "555-[0-9][0-9][0-9][0-9]"


def pii_stats(text: Column) -> dict[str, Column]:
    """Detection counts + redacted text. Redaction order is fixed
    (emails first, then phones) so both engines transform identically;
    all regexp work is JVM-side, map-only."""
    n_emails = F.regexp_count(text, F.lit(EMAIL_RE))
    n_phones = F.regexp_count(text, F.lit(PHONE_RE))
    redacted = F.regexp_replace(
        F.regexp_replace(text, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
    )
    return {
        "n_emails": n_emails,
        "n_phones": n_phones,
        "redacted": redacted,
    }


def sql_pii_stats(expr: str) -> dict[str, str]:
    """DuckDB twin of `pii_stats` (same patterns, same order)."""
    return {
        "n_emails": f"len(regexp_extract_all({expr}, '{EMAIL_RE}'))",
        "n_phones": f"len(regexp_extract_all({expr}, '{PHONE_RE}'))",
        "redacted": (
            f"regexp_replace(regexp_replace({expr}, '{EMAIL_RE}', '<EMAIL>', 'g'),"
            f" '{PHONE_RE}', '<PHONE>', 'g')"
        ),
    }


# --- corpus-level language-model scoring + vocabulary statistics ------------


def bigram_structs(text: Column) -> Column:
    """All adjacent token pairs of lowercased text as struct<w1,w2>, in
    order, duplicates kept (LM counting needs multiplicity). Token array
    bound once via the singleton-array transform (see word_shingles)."""

    def _pairs(toks: Column) -> Column:
        idx = F.sequence(F.lit(1), F.size(toks) - 1, F.lit(1))
        body = F.transform(
            idx,
            lambda i: F.struct(
                F.element_at(toks, i).alias("w1"),
                F.element_at(toks, i + 1).alias("w2"),
            ),
        )
        return F.when(F.size(toks) >= 2, body).otherwise(
            F.array().cast("array<struct<w1:string,w2:string>>")
        )

    return F.element_at(
        F.transform(F.array(F.split(F.lower(text), " ")), _pairs), 1
    )


def bigram_lm_scores(docs, id_col: str = "doc_id", text_col: str = "text"):
    """Per-document average log-likelihood under a corpus-trained bigram
    MLE model — the classic cheap fluency/quality signal (KenLM-style
    perplexity filtering, reduced to an exact in-corpus bigram model so it
    needs no external artifact): score(d) = mean over adjacent pairs of
    ln c(w1,w2)/c(w1,·), where counts come from the corpus itself.

    Scale shape: one explode->groupBy builds the model (shuffle carries
    |distinct bigrams| rows after map-side combine); context totals come
    from a window over the *model* table, not the corpus; scoring is one
    equi-join of the bigram stream against the model on (w1, w2) — no
    all-pairs step, no Python, no driver-side state."""
    from fluxdb_spark.session import spread

    bg = spread(docs).select(
        F.col(id_col),
        F.explode(bigram_structs(F.col(text_col))).alias("bg"),
    ).select(id_col, F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    model = (
        bg.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
        .withColumn(
            "logp",
            F.ln(F.col("c12") / F.sum("c12").over(Window.partitionBy("w1"))),
        )
    )
    return bg.join(model, on=["w1", "w2"]).groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        floor4(F.avg("logp")).alias("avg_logp"),
    )


SQL_BIGRAM_LM = """
WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
bg AS (SELECT doc_id, t[i] AS w1, t[i+1] AS w2
       FROM toks, UNNEST(range(1, len(t))) AS u(i)
       WHERE len(t) >= 2),
model AS (
  SELECT w1, w2,
         ln(c12 / sum(c12) OVER (PARTITION BY w1)) AS logp
  FROM (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2)),
scored AS (
  SELECT doc_id, count(*) AS n_bigrams,
         floor(avg(logp) * 10000) / 10000.0 AS avg_logp
  FROM bg JOIN model USING (w1, w2) GROUP BY doc_id)
SELECT doc_id, n_bigrams, avg_logp FROM scored
"""


def perplexity_buckets(
    docs,
    n_tiles: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
):
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): rank each
    language's documents by LM fluency (here the in-corpus bigram MLE of
    `bigram_lm_scores` — CCNet uses a wiki-trained KenLM, an external
    artifact) and split into equal tiers; tier 1 is "head" (most fluent,
    kept for high-quality mixes), the last tier is "tail". Tier
    assignment goes through the per-language HDR bucket histogram of the
    (floor4-truncated, sign-flipped, x10000 integer) score:
    tier = (docs_in_strictly_more_fluent_buckets * n_tiles) div n_lang
    + 1, every doc in a bucket shares its tier — deterministic and
    cross-engine exact, like `rfm_segments`' quintiles.

    Scale shape: inherits bigram_lm_scores' model join; the histogram is
    a combine-friendly groupBy over (lang, bucket) — bounded by
    |langs| * ~64*2^HDR_B rows however large the corpus — the
    cumulative tier scan windows only that sketch relation, and tiers
    join back by BROADCAST. The former per-language ntile put the
    dominant language of a real corpus in ONE task's sort (the r9
    verdict's named scale-killer); no data-proportional sort remains."""
    scored = bigram_lm_scores(docs, id_col, text_col)
    si = docs.select(id_col, lang_col).join(scored, id_col).withColumn(
        "__si", F.expr("CAST(round(-avg_logp * 10000) AS BIGINT)")
    )
    # Center the bucket key at the per-language BEST score (smallest
    # __si): bigram-LM scores cluster in a band far from zero, where
    # log-scale buckets are ~3% of the MAGNITUDE and the whole band
    # lands in 2-3 buckets; keyed by distance-from-best, resolution is
    # ~3% of the distance instead (exact below 64) — same re-centering
    # as rfm_segments' recency-as-age.
    best = si.groupBy(lang_col).agg(F.min("__si").alias("__si0"))
    base = (
        si.join(F.broadcast(best), lang_col)
        .withColumn("__pb", F.expr(_hdr_idx_expr("__si - __si0")))
        .localCheckpoint(eager=False)
    )
    hist = base.groupBy(lang_col, "__pb").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    n_l = base.groupBy(lang_col).agg(F.count(F.lit(1)).alias("n_lang"))
    w = (
        Window.partitionBy(lang_col)
        .orderBy("__pb")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tiers = (
        hist.withColumn("cb", F.sum("cnt").over(w) - F.col("cnt"))
        .join(n_l, lang_col)
        .select(
            lang_col,
            "__pb",
            F.expr(f"(cb * {int(n_tiles)}) div n_lang + 1").alias("tier"),
        )
    )
    return base.join(F.broadcast(tiers), [lang_col, "__pb"]).select(
        id_col, lang_col, "n_bigrams", "avg_logp", "tier"
    )


def sql_perplexity_buckets(n_tiles: int = 3) -> str:
    """DuckDB twin of `perplexity_buckets` (SQL_BIGRAM_LM composed with
    the same per-language HDR-bucket tier assignment)."""
    pb = _hdr_idx_sql("si - si0")
    return f"""
WITH lm AS ({SQL_BIGRAM_LM}),
si AS MATERIALIZED (
  SELECT l.doc_id, d.lang, l.n_bigrams, l.avg_logp,
         CAST(round(-l.avg_logp * 10000) AS BIGINT) AS si
  FROM lm l JOIN documents d USING (doc_id)),
best AS (SELECT lang, min(si) AS si0 FROM si GROUP BY lang),
base AS MATERIALIZED (
  SELECT s.doc_id, s.lang, s.n_bigrams, s.avg_logp, {pb} AS pb
  FROM si s JOIN best USING (lang)),
nl AS (SELECT lang, count(*) AS n_lang FROM base GROUP BY lang),
hist AS (SELECT lang, pb, CAST(count(*) AS BIGINT) AS cnt
         FROM base GROUP BY 1, 2),
tiers AS (
  SELECT h.lang, h.pb,
         CAST(((sum(cnt) OVER (PARTITION BY h.lang ORDER BY h.pb) - cnt)
               * {int(n_tiles)}) // n_lang + 1 AS BIGINT) AS tier
  FROM hist h JOIN nl USING (lang))
SELECT b.doc_id, b.lang, b.n_bigrams, b.avg_logp, t.tier
FROM base b JOIN tiers t ON t.lang = b.lang AND t.pb = b.pb
"""


def heavy_hitters(docs, k: int = 20, text_col: str = "text"):
    """Corpus-wide top-k terms with frequency share — the vocabulary
    heavy-hitter profile a mix designer reads before setting filters.

    Scale shape: explode->groupBy with map-side combine (shuffle is
    |vocab|, not corpus size); the global rank runs on the already-reduced
    vocabulary relation; the 1-row total joins back by broadcast. The
    token total is a map-only second scan of the text column (sum of
    per-doc token counts) rather than a second consumer of the vocabulary
    relation — a persist() there leaked a cached relation per call."""
    from fluxdb_spark.session import spread

    docs = spread(docs)
    toks = tokens(F.lower(F.col(text_col)))
    counts = (
        docs.select(F.explode(toks).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # greatest(·, 0) absorbs both size(NULL) conventions (-1 or NULL) so a
    # null/empty document contributes 0, exactly like its empty explode
    total = docs.select(
        F.greatest(F.size(toks), F.lit(0)).alias("n_tok")
    ).agg(F.sum("n_tok").cast("long").alias("total"))
    # orderBy().limit(k) compiles to TakeOrdered (per-partition top-k, then
    # a k*partitions merge) — no global single-partition window over the
    # vocabulary; the row_number window then ranks only the k survivors.
    topk = counts.orderBy(F.desc("cnt"), F.col("term")).limit(k)
    ranked = topk.withColumn(
        "rank",
        F.row_number()
        .over(Window.orderBy(F.desc("cnt"), F.col("term")))
        .cast("long"),
    )
    return ranked.crossJoin(F.broadcast(total)).select(
        "rank",
        "term",
        "cnt",
        (F.floor(F.col("cnt") / F.col("total") * 1000000) / 1000000.0).alias(
            "share"
        ),
    )


def sql_heavy_hitters(k: int = 20) -> str:
    return f"""
WITH tok AS (SELECT unnest(string_split(lower(text), ' ')) AS term FROM documents),
c AS (SELECT term, count(*) AS cnt FROM tok GROUP BY 1),
t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c),
r AS (SELECT term, cnt,
             row_number() OVER (ORDER BY cnt DESC, term) AS rank FROM c)
SELECT rank, term, cnt,
       floor(cnt * 1.0 / (SELECT total FROM t) * 1000000) / 1000000.0 AS share
FROM r WHERE rank <= {k}
"""


# Explicit character classes so the Java (Spark) and RE2 (DuckDB) regex
# engines agree byte-for-byte: \s differs between them (Java includes
# \x0B, RE2 does not), so normalization never uses shorthand classes.
_CTRL_CLASS = "[\\x00-\\x1f\\x7f]"
_WS_CLASS = "[ \\t\\n\\r\\f\\x0b]+"


def normalize_text(text: Column) -> Column:
    """Canonical text normalization for dedup/fingerprint pipelines:
    lowercase, control characters to spaces, runs of whitespace collapsed
    to one space, trimmed. Deterministic, pure JVM, and reproduced
    exactly by the DuckDB twin (sql_normalize_text) because both engines
    evaluate the same explicit character classes."""
    c = F.lower(text)
    c = F.regexp_replace(c, _CTRL_CLASS, " ")
    c = F.regexp_replace(c, _WS_CLASS, " ")
    return F.trim(c)


def sql_normalize_text(expr: str) -> str:
    """DuckDB twin of `normalize_text` (RE2 'g' flag = replace-all, which
    is Spark's regexp_replace default)."""
    return (
        "trim(regexp_replace(regexp_replace(lower("
        + expr
        + "), '[\\x00-\\x1f\\x7f]', ' ', 'g'), '[ \\t\\n\\r\\f\\x0b]+', ' ', 'g'))"
    )


def chunk_documents(
    docs,
    chunk_words: int = 32,
    stride: int = 24,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Overlapping fixed-width word windows per document — the chunking
    stage every RAG / context-window pipeline runs before embedding or
    packing. Windows start every `stride` words (overlap = chunk_words -
    stride) and generation stops once a window reaches the document end
    (the return-overflowing-tokens rule): a window is emitted iff it is
    the first, or its predecessor did not already cover the last word —
    so no window is fully contained in another and short tails never
    multiply.

    Scale shape: pure per-row JVM expressions (split -> sequence ->
    higher-order filter/transform -> explode). The explode factor is
    ~n_words/stride per document — linear, known in advance, and entirely
    map-side: chunking 100 TB is scan speed, no shuffle at all."""
    words = F.split(F.col(text_col), " ")
    n = F.size(words)
    starts = F.sequence(
        F.lit(0), F.greatest(n - F.lit(1), F.lit(0)), F.lit(stride)
    )
    kept = F.filter(
        starts,
        lambda s: (s == F.lit(0)) | (s + F.lit(chunk_words - stride) < n),
    )
    chunks = F.transform(
        kept,
        lambda s: F.struct(
            (s / F.lit(stride)).cast("long").alias("chunk_id"),
            s.cast("long").alias("chunk_start"),
            F.slice(words, s + F.lit(1), F.lit(chunk_words)).alias("arr"),
        ),
    )
    return docs.select(
        F.col(id_col), F.explode(chunks).alias("_c")
    ).select(
        F.col(id_col),
        F.col("_c.chunk_id").alias("chunk_id"),
        F.col("_c.chunk_start").alias("chunk_start"),
        F.size("_c.arr").cast("long").alias("chunk_len"),
        F.array_join("_c.arr", " ").alias("chunk_text"),
    )


def sql_chunk_documents(chunk_words: int = 32, stride: int = 24) -> str:
    """DuckDB twin of `chunk_documents` over the `documents` view (1-based
    inclusive list slicing mirrors Spark's slice(arr, start, length))."""
    return f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
), s AS (
  SELECT doc_id, words,
         unnest(range(0, greatest(len(words), 1), {stride})) AS start
  FROM w
)
SELECT doc_id,
       CAST(start / {stride} AS BIGINT) AS chunk_id,
       CAST(start AS BIGINT) AS chunk_start,
       CAST(len(words[start + 1 : start + {chunk_words}]) AS BIGINT)
         AS chunk_len,
       array_to_string(words[start + 1 : start + {chunk_words}], ' ')
         AS chunk_text
FROM s
WHERE start = 0 OR start + {chunk_words - stride} < len(words)
"""


def bm25_scores(
    docs,
    query_terms: list[str],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Corpus BM25 retrieval: top-k documents for a bag-of-terms query —
    the lexical ranking half of a retrieval/curation pipeline (pairs with
    the embedding ANN operators in functions/similarity.py the way BM25 +
    dense retrieval pair in a hybrid ranker).

    score(d) = sum over query terms t of
      IDF(t) * tf * (k1+1) / (tf + k1 * (1 - b + b * dl/avgdl)),
      IDF(t) = ln((N - df + 0.5) / (df + 0.5) + 1)   (Robertson/Lucene form)

    Scale shape: ONE explode of the corpus, with the query-term filter
    applied before the shuffle, so the groupBy carries only (doc, matched
    term) pairs — never the vocabulary; per-doc length rides through the
    explode as a column (no second join against a lengths relation);
    df/N/avgdl are tiny aggregates broadcast back; the final top-k is an
    orderBy().limit() TakeOrdered, not a global sort. No Python, no
    driver-side state beyond the query literal."""
    toks = tokens(F.lower(F.col(text_col)))
    stats = docs.select(
        F.greatest(F.size(toks), F.lit(0)).alias("dl")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").cast("long").alias("tot"),
    )
    tf = (
        docs.select(
            F.col(id_col),
            F.size(toks).alias("dl"),
            F.explode(toks).alias("term"),
        )
        .filter(F.col("term").isin(*query_terms))
        .groupBy(id_col, "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return _score_tf(tf, stats, k, k1, b, id_col)


def _score_tf(tf, stats, k: int, k1: float, b: float, id_col: str):
    """The shared BM25 scoring tail: per-(doc, matched-term) tf rows +
    a 1-row (n_docs, tot) stats relation -> top-k. Split out so the
    recompute form (`bm25_scores`) and the materialized-postings form
    (`bm25_from_postings`) run the IDENTICAL float expression — same
    operation order, bit-identical scores, one shared oracle."""
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "w",
            F.ln(
                (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                + 1.0
            )
            * (F.col("tf") * (k1 + 1.0))
            / (
                F.col("tf")
                + k1
                * (
                    1.0
                    - b
                    + b * F.col("dl") / (F.col("tot") / F.col("n_docs"))
                )
            ),
        )
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            floor4(F.sum("w")).alias("bm25"),
        )
        .orderBy(F.desc("bm25"), F.col(id_col))
        .limit(k)
    )


def bm25_from_postings(
    postings,
    doclen,
    query_terms: list[str],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    stats: tuple[int, int] | None = None,
):
    """BM25 over MATERIALIZED state — the standing-service form of
    `bm25_scores`: `postings` is the derived (doc_id, height,
    is_deletion, dl, term, tf) table and `doclen` the derived (doc_id,
    height, is_deletion, dl) table, both maintained incrementally from
    the store's commit log (streaming/retrieval.py); `stats` is the
    (n_docs, tot_dl) pair cached at refresh time. Per query the corpus
    text is NEVER touched: cost is the term-filtered postings read
    (parquet predicate pushdown on `term`) joined against the live-doc
    fold of the doclen table, plus an O(1) stats lookup — O(matching
    postings), not O(corpus).

    LWW correctness: postings are multi-row per document version, so
    per-(doc, term) last-write-wins would resurrect terms an edit
    removed. Instead the doclen table (one row per version) picks each
    document's live height, and only postings AT that height survive —
    a tombstoned document has no live height and drops out entirely.

    Bit-identical to `bm25_scores` on the same corpus: tf/dl/df/N/avgdl
    are the same integers and the scoring tail is the shared
    `_score_tf` expression, so the two forms hash-match."""
    from fluxdb_spark.streaming.retrieval import lww_latest

    live = lww_latest(doclen, ["doc_id"])  # (doc_id, height, dl)
    if stats is None:
        stats_df = live.select(
            F.greatest(F.col("dl"), F.lit(0)).alias("dl")
        ).agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("dl").cast("long").alias("tot"),
        )
    else:
        n_docs, tot = stats
        stats_df = postings.sparkSession.createDataFrame(
            [(int(n_docs), int(tot))], "n_docs long, tot long"
        )
    tf = (
        postings.filter(F.col("term").isin(*query_terms))
        .join(live.select("doc_id", "height"), ["doc_id", "height"])
        .select("doc_id", "dl", "term", "tf")
    )
    return _score_tf(tf, stats_df, k, k1, b, "doc_id")


def sql_bm25(query_terms: list[str], k: int = 20) -> str:
    terms = ", ".join(f"'{t}'" for t in query_terms)
    return f"""
WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
stats AS (SELECT count(*) AS n_docs, CAST(sum(len(t)) AS BIGINT) AS tot FROM toks),
tf AS (SELECT doc_id, dl, term, count(*) AS tf
       FROM (SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM toks)
       WHERE term IN ({terms}) GROUP BY 1, 2, 3),
dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
sc AS (SELECT doc_id,
              ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
              * (tf * (1.2 + 1.0))
              / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / (tot * 1.0 / n_docs))) AS w
       FROM tf JOIN dft USING (term), stats)
SELECT doc_id, count(*) AS n_terms,
       floor(sum(w) * 10000) / 10000.0 AS bm25
FROM sc GROUP BY doc_id
ORDER BY bm25 DESC, doc_id LIMIT {k}
"""


def bm25_scores_multi(
    docs,
    queries,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Batch BM25: rank the corpus for MANY queries at once — the
    production retrieval shape (`bm25_scores` inlines one query's terms
    as plan literals; a thousand-query evaluation run needs the queries
    as a RELATION). `queries` has columns (query_id, term), one row per
    query term.

    Scale shape: the query-term set is broadcast twice — once as a
    semi-join that filters the corpus explode BEFORE the tf shuffle
    (only terms any query mentions survive), once to fan matched (doc,
    term) pairs out to the queries that contain them. df/N/avgdl are
    corpus-level (shared across queries, computed once); per-query
    top-k is a window over (query, doc) scores — rows carry ids and
    counts only, never text."""
    toks = tokens(F.lower(F.col(text_col)))
    stats = docs.select(
        F.greatest(F.size(toks), F.lit(0)).alias("dl")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").cast("long").alias("tot"),
    )
    terms = queries.select("term").distinct()
    tf = (
        docs.select(
            F.col(id_col),
            F.size(toks).alias("dl"),
            F.explode(toks).alias("term"),
        )
        .join(F.broadcast(terms), "term", "left_semi")
        .groupBy(id_col, "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(df_t), "term")
        .join(F.broadcast(queries), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "w",
            F.ln(
                (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                + 1.0
            )
            * (F.col("tf") * (k1 + 1.0))
            / (
                F.col("tf")
                + k1
                * (
                    1.0
                    - b
                    + b * F.col("dl") / (F.col("tot") / F.col("n_docs"))
                )
            ),
        )
    )
    per_doc = scored.groupBy("query_id", id_col).agg(
        F.count(F.lit(1)).alias("n_terms"),
        floor4(F.sum("w")).alias("bm25"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("bm25"), F.col(id_col)
    )
    return (
        per_doc.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "n_terms", "bm25", "rank")
    )


def sql_bm25_multi(query_terms: dict[str, list[str]], k: int = 10) -> str:
    """DuckDB twin of `bm25_scores_multi` for a literal query set."""
    values = ", ".join(
        f"('{qid}', '{t}')"
        for qid, ts in sorted(query_terms.items())
        for t in ts
    )
    return f"""
WITH queries(query_id, term) AS (VALUES {values}),
toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
stats AS (SELECT count(*) AS n_docs, CAST(sum(len(t)) AS BIGINT) AS tot FROM toks),
tf AS (SELECT doc_id, dl, term, count(*) AS tf
       FROM (SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM toks)
       WHERE term IN (SELECT DISTINCT term FROM queries)
       GROUP BY 1, 2, 3),
dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
sc AS (SELECT q.query_id, tf.doc_id,
              ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
              * (tf * (1.2 + 1.0))
              / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl
                             / (tot * 1.0 / n_docs))) AS w
       FROM tf JOIN dft USING (term) JOIN queries q USING (term), stats),
pd AS (SELECT query_id, doc_id, count(*) AS n_terms,
              floor(sum(w) * 10000) / 10000.0 AS bm25
       FROM sc GROUP BY 1, 2),
rk AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                    ORDER BY bm25 DESC, doc_id) AS rank
       FROM pd)
SELECT query_id, doc_id, n_terms, bm25, CAST(rank AS BIGINT) AS rank
FROM rk WHERE rank <= {k}
"""


# --- count-min sketch --------------------------------------------------------

CMS_DEPTH = 4
CMS_WIDTH = 256


def _cms_bucket(term: Column, r: Column, width: int) -> Column:
    """Row-r counter index for a term: portable salted hash mod width."""
    return F.pmod(
        hash60(
            F.concat(
                F.lit("cms"), r.cast("string"), F.lit("|"), term
            )
        ),
        F.lit(width),
    )


def _cms_bucket_sql(term_expr: str, r_expr: str, width: int) -> str:
    inner = f"concat('cms', CAST({r_expr} AS VARCHAR), '|', {term_expr})"
    return f"({hash60_sql(inner)} % {width})"


def cms_sketch(
    docs, depth: int = CMS_DEPTH, width: int = CMS_WIDTH,
    text_col: str = "text",
):
    """Count-min sketch (Cormode & Muthukrishnan 2005) of the corpus
    token-frequency distribution: `depth` hash rows x `width` counters.
    The counter table is the DISTRIBUTED sketch — each partition's
    partial counts are the partition's sketch and the groupBy merge IS
    the sketch merge (element-wise sum), so memory is depth*width
    counters regardless of vocabulary size. That is the 100 TB contrast
    with the exact `heavy_hitters` profile, whose shuffle carries the
    full |vocab| relation."""
    from fluxdb_spark.session import spread

    base = spread(docs).select(
        F.explode(tokens(F.lower(F.col(text_col)))).alias("term")
    )
    keyed = base.select(
        F.explode(F.array(*[F.lit(r) for r in range(depth)])).alias("r")
        , "term"
    ).select(
        "r", _cms_bucket(F.col("term"), F.col("r"), width).alias("bucket")
    )
    return keyed.groupBy("r", "bucket").agg(
        F.count(F.lit(1)).alias("cnt")
    )


def cms_estimate(
    sketch, terms, depth: int = CMS_DEPTH, width: int = CMS_WIDTH,
    term_col: str = "term",
):
    """Point-query the sketch: estimate(term) = min over rows of the
    term's counter — never an underestimate, overestimates only from
    hash collisions. The probe relation is small (it broadcasts); the
    sketch side is depth*width rows."""
    probes = terms.select(
        F.col(term_col).alias("term"),
        F.explode(F.array(*[F.lit(r) for r in range(depth)])).alias("r"),
    ).select(
        "term", "r",
        _cms_bucket(F.col("term"), F.col("r"), width).alias("bucket"),
    )
    joined = F.broadcast(probes).join(sketch, on=["r", "bucket"], how="left")
    return joined.groupBy("term").agg(
        F.min(F.coalesce(F.col("cnt"), F.lit(0))).cast("long").alias("est")
    )


def cms_heavy_hitters(
    docs, k: int = 20, depth: int = CMS_DEPTH, width: int = CMS_WIDTH,
    text_col: str = "text", sketch=None,
):
    """The exact top-k vocabulary terms with their count-min estimates
    side by side — the operator a pipeline uses to validate that a
    bounded-memory sketch is good enough before replacing the exact
    vocabulary profile at scale. est >= cnt always (CMS one-sided
    error); both integers, so the relation hash-matches the SQL twin.
    Pass `sketch` to probe a standing counter table (e.g. one maintained
    by Structured Streaming) instead of rebuilding it from the corpus."""
    from fluxdb_spark.session import spread

    base = spread(docs).select(
        F.explode(tokens(F.lower(F.col(text_col)))).alias("term")
    )
    counts = base.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    topk = counts.orderBy(F.desc("cnt"), F.col("term")).limit(k)
    ranked = topk.withColumn(
        "rank",
        F.row_number()
        .over(Window.orderBy(F.desc("cnt"), F.col("term")))
        .cast("long"),
    )
    if sketch is None:
        sketch = cms_sketch(docs, depth, width, text_col)
    est = cms_estimate(sketch, ranked.select("term"), depth, width)
    return ranked.join(est, "term").select("term", "cnt", "est", "rank")


def sql_cms_heavy_hitters(
    k: int = 20, depth: int = CMS_DEPTH, width: int = CMS_WIDTH
) -> str:
    """DuckDB twin of `cms_heavy_hitters` (same salted buckets)."""
    return f"""
WITH toks AS (SELECT unnest(string_split(lower(text), ' ')) AS term
              FROM documents),
counts AS (SELECT term, count(*) AS cnt FROM toks GROUP BY 1),
topk AS (SELECT term, cnt,
                CAST(row_number() OVER (ORDER BY cnt DESC, term) AS BIGINT)
                  AS rank
         FROM counts ORDER BY cnt DESC, term LIMIT {k}),
rws AS (SELECT unnest(range(0, {depth})) AS r),
keyed AS (SELECT r, {_cms_bucket_sql('term', 'r', width)} AS bucket
          FROM toks, rws),
sk AS (SELECT r, bucket, count(*) AS cnt FROM keyed GROUP BY 1, 2),
probes AS (SELECT t.term, r.r,
                  {_cms_bucket_sql('t.term', 'r.r', width)} AS bucket
           FROM topk t, rws r),
est AS (SELECT p.term, CAST(min(COALESCE(s.cnt, 0)) AS BIGINT) AS est
        FROM probes p LEFT JOIN sk s USING (r, bucket) GROUP BY 1)
SELECT t.term, t.cnt, e.est, t.rank
FROM topk t JOIN est e USING (term)
"""


# --- HyperLogLog distinct counting ------------------------------------------
#
# Flajolet, Fusy, Gandouet & Meunier 2007: cardinality estimation in
# m = 2^b registers regardless of the distinct count. The register table
# IS the distributed sketch — each partition's per-register max is the
# partition's sketch and the groupBy max-merge is the sketch union, so
# at 100 TB the shuffle carries m rows per partition while the exact
# countDistinct it replaces shuffles the full vocabulary. Everything up
# to the final estimate is integer/string expressions over the portable
# 60-bit hash (register index = top 8 bits, rho = leading-zero count of
# the remaining 52 via length(bin(w)) — no floats, no libm), and the
# estimator avoids engine libm entirely: the linear-counting branch reads
# m*ln(m/V) from a 256-entry table inlined as plan literals, so the only
# runtime float ops are IEEE-correctly-rounded * and /, making the whole
# operator hash-checkable cross-engine.

HLL_B = 8
HLL_M = 1 << HLL_B  # 256 registers
HLL_WINDOW = 60 - HLL_B  # 52 hash bits feed the rank
_HLL_ALPHA = 0.7213 / (1.0 + 1.079 / HLL_M)
# alpha * m^2 * 2^52: the raw-estimator numerator with sum_int in units
# of 2^-52 (see hll_estimate); exact double product of a double and two
# powers of two
_HLL_RAW_NUM = _HLL_ALPHA * HLL_M * HLL_M * float(1 << HLL_WINDOW)


def _hll_ln_table() -> list[float]:
    """m * ln(m / V) for V = 1..m, computed once driver-side and inlined
    as literals — identical decimal literals parse to identical doubles
    in every engine, so the linear-counting branch never calls an
    engine's (non-correctly-rounded) log."""
    import math

    return [HLL_M * math.log(HLL_M / v) for v in range(1, HLL_M + 1)]


def hll_register_cols(key: Column) -> tuple[Column, Column]:
    """(register, rho) expressions for one key: register = top b bits of
    hash60(key), rho = leading zeros of the remaining 52 bits + 1 (via
    length(bin(w)) — exact integer/string ops, portable)."""
    h = hash60(key)
    w = F.pmod(h, F.lit(1 << HLL_WINDOW))
    rho = F.when(w == 0, F.lit(HLL_WINDOW + 1)).otherwise(
        F.lit(HLL_WINDOW) - F.length(F.bin(w)) + 1
    )
    return (
        F.floor(h / F.lit(1 << HLL_WINDOW)).cast("long"),
        rho.cast("long"),
    )


def hll_registers(docs, text_col: str = "text"):
    """The m-row register relation over the corpus vocabulary:
    (register, max_rho). Merging two corpora's registers is an
    element-wise max."""
    from fluxdb_spark.session import spread

    base = spread(docs).select(
        F.explode(tokens(F.lower(F.col(text_col)))).alias("term")
    )
    reg, rho = hll_register_cols(F.col("term"))
    return (
        base.select(reg.alias("register"), rho.alias("rho"))
        .groupBy("register")
        .agg(F.max("rho").alias("max_rho"))
    )


def hll_estimate(registers, group_cols: list[str] | None = None):
    """Estimate from the register relation — one row (or one row per
    group with `group_cols`, e.g. a streaming sketch keyed by window or
    event type). sum_int accumulates 2^(52 - max_rho) per register —
    exact BIGINT arithmetic (<= 2^60), so the harmonic sum has no
    float-summation order ambiguity; the raw estimate is one
    exact-operand division. Small-range (V zero registers > 0,
    raw <= 2.5m) switches to linear counting via the inlined ln table —
    no engine libm call anywhere."""
    ln_lit = F.array(*[F.lit(x) for x in _hll_ln_table()])
    aggs = [
        F.sum(
            F.expr(f"shiftleft(CAST(1 AS BIGINT), {HLL_WINDOW} - max_rho)")
        ).cast("long").alias("sum_nz"),
        F.count(F.lit(1)).cast("long").alias("nz"),
    ]
    if group_cols:
        agg = registers.groupBy(*group_cols).agg(*aggs)
    else:
        agg = registers.agg(*aggs)
    v = F.lit(HLL_M) - F.col("nz")
    # zero registers contribute 2^-0 = 1 each: in 2^-52 units, 2^52
    sum_int = F.col("sum_nz") + v * F.lit(1 << HLL_WINDOW)
    raw = F.lit(_HLL_RAW_NUM) / sum_int.cast("double")
    est = F.when(
        (raw <= F.lit(2.5 * HLL_M)) & (v > 0), F.element_at(ln_lit, v.cast("int"))
    ).otherwise(raw)
    return agg.select(
        *(group_cols or []),
        F.lit(HLL_M).cast("long").alias("m"),
        v.cast("long").alias("zero_registers"),
        sum_int.cast("long").alias("harmonic_sum_e52"),
        F.round(est, 4).alias("est_distinct"),
    )


def sql_hll_distinct() -> str:
    """DuckDB twin of hll_registers |> hll_estimate |> exact-count
    comparison over the documents table."""
    table = ", ".join(repr(x) for x in _hll_ln_table())
    w_expr = f"h % {1 << HLL_WINDOW}"
    return f"""
WITH toks AS (SELECT unnest(string_split(lower(text), ' ')) AS term
              FROM documents),
hashed AS (SELECT {hash60_sql('term')} AS h FROM toks),
rho_rows AS (
  SELECT CAST(floor(h / {1 << HLL_WINDOW}) AS BIGINT) AS register,
         CASE WHEN {w_expr} = 0 THEN {HLL_WINDOW + 1}
              ELSE {HLL_WINDOW} - length(bin(CAST({w_expr} AS BIGINT))) + 1
         END AS rho
  FROM hashed),
regs AS (SELECT register, max(rho) AS max_rho FROM rho_rows GROUP BY 1),
agg AS (SELECT CAST(sum(CAST(1 AS BIGINT) << ({HLL_WINDOW} - max_rho)) AS BIGINT)
                 AS sum_nz,
               CAST(count(*) AS BIGINT) AS nz
        FROM regs),
est AS (
  SELECT CAST({HLL_M} AS BIGINT) AS m,
         CAST({HLL_M} - nz AS BIGINT) AS zero_registers,
         CAST(sum_nz + ({HLL_M} - nz) * CAST({1 << HLL_WINDOW} AS BIGINT)
              AS BIGINT) AS harmonic_sum_e52,
         round(CASE WHEN {_HLL_RAW_NUM!r}
                         / CAST(sum_nz + ({HLL_M} - nz)
                                * CAST({1 << HLL_WINDOW} AS BIGINT) AS DOUBLE)
                      <= {2.5 * HLL_M}
                    AND ({HLL_M} - nz) > 0
               THEN [{table}][CAST({HLL_M} - nz AS INT)]
               ELSE {_HLL_RAW_NUM!r}
                    / CAST(sum_nz + ({HLL_M} - nz)
                           * CAST({1 << HLL_WINDOW} AS BIGINT) AS DOUBLE)
               END, 4) AS est_distinct
  FROM agg),
exact AS (SELECT CAST(count(DISTINCT term) AS BIGINT) AS exact_distinct
          FROM toks)
SELECT m, zero_registers, harmonic_sum_e52, est_distinct, exact_distinct
FROM est, exact
"""


def hll_rollup(docs, group_col: str = "source", text_col: str = "text"):
    """Hierarchical distinct-count via SKETCH MERGE — the property that
    makes HLL the 100 TB tool: build the register relation once per
    group, then derive the corpus-level estimate by MERGING the group
    sketches (element-wise max over registers), never rescanning the
    data.  At scale this is the difference between "distinct terms per
    source AND overall" costing one corpus pass versus two — and the
    same merge serves any rollup level (hour -> day -> month, shard ->
    cluster) for free.

    Returns one row per group plus a `__all__` row, all carrying
    (level, m, zero_registers, harmonic_sum_e52, est_distinct); the
    harmonic sum stays exact BIGINT so the merge is hash-checkable."""
    from fluxdb_spark.session import spread

    base = spread(docs).select(
        F.col(group_col).alias("level"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("term"),
    )
    reg, rho = hll_register_cols(F.col("term"))
    regs = (
        base.select("level", reg.alias("register"), rho.alias("rho"))
        .groupBy("level", "register")
        .agg(F.max("rho").alias("max_rho"))
        .localCheckpoint(eager=False)
    )
    return hll_rollup_from_registers(regs)


def hll_rollup_from_registers(regs):
    """The rollup finisher over a (level, register, max_rho) relation —
    shared by the batch scan and the streaming-maintained register
    table: per-level estimates plus the `__all__` row merged by
    element-wise max, never a rescan of the data."""
    per = hll_estimate(regs, ["level"])
    merged = regs.groupBy("register").agg(F.max("max_rho").alias("max_rho"))
    total = hll_estimate(merged).select(
        F.lit("__all__").alias("level"),
        "m",
        "zero_registers",
        "harmonic_sum_e52",
        "est_distinct",
    )
    return per.unionByName(total)


def sql_hll_rollup(group_col: str = "source") -> str:
    """DuckDB twin of `hll_rollup`: identical register construction per
    group, identical element-wise-max merge for the `__all__` row."""
    table = ", ".join(repr(x) for x in _hll_ln_table())
    w_expr = f"h % {1 << HLL_WINDOW}"
    est_cols = f"""
         CAST({HLL_M} AS BIGINT) AS m,
         CAST({HLL_M} - nz AS BIGINT) AS zero_registers,
         CAST(sum_nz + ({HLL_M} - nz) * CAST({1 << HLL_WINDOW} AS BIGINT)
              AS BIGINT) AS harmonic_sum_e52,
         round(CASE WHEN {_HLL_RAW_NUM!r}
                         / CAST(sum_nz + ({HLL_M} - nz)
                                * CAST({1 << HLL_WINDOW} AS BIGINT) AS DOUBLE)
                      <= {2.5 * HLL_M}
                    AND ({HLL_M} - nz) > 0
               THEN [{table}][CAST({HLL_M} - nz AS INT)]
               ELSE {_HLL_RAW_NUM!r}
                    / CAST(sum_nz + ({HLL_M} - nz)
                           * CAST({1 << HLL_WINDOW} AS BIGINT) AS DOUBLE)
               END, 4) AS est_distinct"""
    return f"""
WITH toks AS (SELECT {group_col} AS level,
                     unnest(string_split(lower(text), ' ')) AS term
              FROM documents),
hashed AS (SELECT level, {hash60_sql('term')} AS h FROM toks),
rho_rows AS (
  SELECT level,
         CAST(floor(h / {1 << HLL_WINDOW}) AS BIGINT) AS register,
         CASE WHEN {w_expr} = 0 THEN {HLL_WINDOW + 1}
              ELSE {HLL_WINDOW} - length(bin(CAST({w_expr} AS BIGINT))) + 1
         END AS rho
  FROM hashed),
regs AS MATERIALIZED (
  SELECT level, register, max(rho) AS max_rho FROM rho_rows GROUP BY 1, 2),
gagg AS (
  SELECT level,
         CAST(sum(CAST(1 AS BIGINT) << ({HLL_WINDOW} - max_rho)) AS BIGINT)
           AS sum_nz,
         CAST(count(*) AS BIGINT) AS nz
  FROM regs GROUP BY 1),
mregs AS (SELECT register, max(max_rho) AS max_rho FROM regs GROUP BY 1),
magg AS (
  SELECT '__all__' AS level,
         CAST(sum(CAST(1 AS BIGINT) << ({HLL_WINDOW} - max_rho)) AS BIGINT)
           AS sum_nz,
         CAST(count(*) AS BIGINT) AS nz
  FROM mregs),
allagg AS (SELECT * FROM gagg UNION ALL SELECT * FROM magg)
SELECT level,{est_cols}
FROM allagg
"""


# --- base-2 exponential histogram quantiles ---------------------------------
#
# The quantile member of the sketch family (CMS: frequencies, HLL:
# distinct counts): a log-linear bucket histogram in the HdrHistogram /
# OpenTelemetry base-2 exponential-histogram mold, with DDSketch's
# guarantee (Masson et al., VLDB 2019) — bounded RELATIVE error. Unlike
# GK/KLL/t-digest the bucket mapping is a pure function of the value
# (insertion-order independent), so the distributed sketch is exactly
# mergeable (bucket-count sum) AND the whole operator hash-matches a SQL
# twin. For integer values the mapping needs no logarithm at all: octave
# = length(bin(v)) - 1, sub-bucket = the next HDR_B mantissa bits, so a
# bucket spans 2^(e-B) of an octave and every estimate is within
# 2^-HDR_B (~3%) relative error. Bucket space is ~B * 64 entries
# regardless of corpus size; the groupBy merge is the sketch merge.

HDR_B = 5  # 32 sub-buckets per octave -> relative error <= 1/32


def _hdr_idx_expr(v: str) -> str:
    """SQL/Spark-shared bucket index of integer expression `v` (>= 0):
    idx = (max(e-B, 0) << B) + (v >> max(e-B, 0)); contiguous,
    order-preserving, exact for v < 2^(B+1)."""
    s = f"greatest(length(bin(CAST({v} AS BIGINT))) - 1 - {HDR_B}, 0)"
    return (
        f"CAST(shiftleft(CAST({s} AS BIGINT), {HDR_B})"
        f" + shiftright(CAST({v} AS BIGINT), CAST({s} AS INT)) AS BIGINT)"
    )


def _hdr_idx_sql(v: str) -> str:
    s = f"greatest(length(bin(CAST({v} AS BIGINT))) - 1 - {HDR_B}, 0)"
    return (
        f"CAST((CAST({s} AS BIGINT) << {HDR_B})"
        f" + (CAST({v} AS BIGINT) >> CAST({s} AS BIGINT)) AS BIGINT)"
    )


def _hdr_lower_expr(idx: str) -> str:
    """Inverse mapping: the bucket's lower bound (the quantile
    estimate). s = max(idx >> B - 1, 0); lo = (idx - (s << B)) << s."""
    s = f"greatest(shiftright(CAST({idx} AS BIGINT), {HDR_B}) - 1, 0)"
    return (
        f"CAST(shiftleft(CAST({idx} AS BIGINT)"
        f" - shiftleft(CAST({s} AS BIGINT), {HDR_B}),"
        f" CAST({s} AS INT)) AS BIGINT)"
    )


def _hdr_lower_sql(idx: str) -> str:
    s = f"greatest((CAST({idx} AS BIGINT) >> {HDR_B}) - 1, 0)"
    return (
        f"CAST((CAST({idx} AS BIGINT) - (CAST({s} AS BIGINT) << {HDR_B}))"
        f" << CAST({s} AS BIGINT) AS BIGINT)"
    )


def hdr_buckets(docs, text_col: str = "text"):
    """The (bucket, cnt) sketch of the per-document token-length
    distribution. Per partition the bucket partials ARE the sketch; the
    groupBy sum is the merge — the shuffle carries <= ~B*64 rows per
    partition however large the corpus."""
    from fluxdb_spark.session import spread

    lens = spread(docs).select(
        token_count(F.col(text_col)).alias("n_tok")
    )
    return (
        lens.select(F.expr(_hdr_idx_expr("n_tok")).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def hdr_quantiles(buckets, ps: list[float]):
    """Quantile estimates from the sketch: for each p, the lower bound
    of the first bucket whose cumulative count reaches ceil(p * n) —
    rank-based, integer-deterministic, within 2^-HDR_B relative error
    of the true rank statistic."""
    n = buckets.agg(F.sum("cnt").alias("n"))
    cum = buckets.withColumn(
        "cum",
        F.sum("cnt").over(
            Window.orderBy("bucket").rowsBetween(
                Window.unboundedPreceding, 0
            )
        ),
    )
    probes = None
    for p in ps:
        row = (
            cum.join(F.broadcast(n))
            .filter(F.col("cum") >= F.ceil(F.lit(p) * F.col("n")))
            .agg(F.min("bucket").alias("bucket"))
            .select(
                F.lit(p).alias("p"),
                F.expr(_hdr_lower_expr("bucket")).alias("est"),
            )
        )
        probes = row if probes is None else probes.unionByName(row)
    return probes


def sql_hdr_quantiles(ps: list[float]) -> str:
    """DuckDB twin of hdr_buckets |> hdr_quantiles, with the exact
    rank-based quantile beside each estimate."""
    probe_rows = []
    for p in ps:
        probe_rows.append(
            f"""SELECT CAST({p!r} AS DOUBLE) AS p,
       (SELECT {_hdr_lower_sql('min(bucket)')}
        FROM cum, tot WHERE cum >= ceil({p!r} * n)) AS est,
       (SELECT min(n_tok) FROM lcum, tot
        WHERE lc >= ceil({p!r} * n)) AS exact"""
        )
    union = "\nUNION ALL\n".join(probe_rows)
    return f"""
WITH lens AS MATERIALIZED (
  SELECT CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tok
  FROM documents),
sk AS MATERIALIZED (
  SELECT {_hdr_idx_sql('n_tok')} AS bucket, CAST(count(*) AS BIGINT) AS cnt
  FROM lens GROUP BY 1),
cum AS MATERIALIZED (
  SELECT bucket, sum(cnt) OVER (ORDER BY bucket) AS cum FROM sk),
tot AS MATERIALIZED (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM sk),
lcum AS MATERIALIZED (
  SELECT n_tok, count(*) AS c,
         sum(count(*)) OVER (ORDER BY n_tok) AS lc
  FROM lens GROUP BY n_tok)
{union}
ORDER BY p
"""


def hdr_rollup(
    docs,
    group_col: str = "source",
    value_col: str = "n_chars",
    ps: tuple[float, ...] = (0.5, 0.99),
):
    """Hierarchical QUANTILES via sketch merge — the quantile member of
    the rollup family (`hll_rollup`: distinct counts): per-group HDR
    bucket histograms, with the corpus-level `__all__` quantiles derived
    by SUMMING the group histograms.  The point at 100 TB: exact
    quantiles don't merge (a p99 of p99s is meaningless), but the
    log-bucket histogram does — sketch once at the finest level, answer
    any coarser level as a bounded-size bucket-count sum.

    Returns (level, p, est): one row per group and probe plus the
    `__all__` rows; est is the bucket lower bound, within 2^-HDR_B
    relative error of the true rank statistic on BOTH levels."""
    hist = (
        docs.groupBy(
            F.col(group_col).alias("level"),
            F.expr(_hdr_idx_expr(value_col)).alias("bucket"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    merged = (
        hist.groupBy("bucket")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
        .select(F.lit("__all__").alias("level"), "bucket", "cnt")
    )
    allh = hist.unionByName(merged)
    n = allh.groupBy("level").agg(F.sum("cnt").alias("n"))
    cum = allh.withColumn(
        "cum",
        F.sum("cnt").over(
            Window.partitionBy("level")
            .orderBy("bucket")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    probes = None
    for p in ps:
        row = (
            cum.join(F.broadcast(n), "level")
            .filter(F.col("cum") >= F.ceil(F.lit(p) * F.col("n")))
            .groupBy("level")
            .agg(F.min("bucket").alias("bucket"))
            .select(
                "level",
                F.lit(p).alias("p"),
                F.expr(_hdr_lower_expr("bucket")).alias("est"),
            )
        )
        probes = row if probes is None else probes.unionByName(row)
    return probes


def sql_hdr_rollup(
    group_col: str = "source",
    value_col: str = "n_chars",
    ps: tuple[float, ...] = (0.5, 0.99),
) -> str:
    """DuckDB twin of `hdr_rollup`: identical bucket mapping, identical
    histogram sum for the `__all__` level."""
    probe_rows = [
        f"""SELECT level, CAST({p!r} AS DOUBLE) AS p,
       {_hdr_lower_sql('min(bucket)')} AS est
FROM cum JOIN tot USING (level)
WHERE cum >= ceil({p!r} * n) GROUP BY level"""
        for p in ps
    ]
    return f"""
WITH v AS (SELECT {group_col} AS level,
                  CAST({value_col} AS BIGINT) AS val FROM documents),
hist AS MATERIALIZED (
  SELECT level, {_hdr_idx_sql('val')} AS bucket,
         CAST(count(*) AS BIGINT) AS cnt
  FROM v GROUP BY 1, 2),
allh AS MATERIALIZED (
  SELECT * FROM hist
  UNION ALL
  SELECT '__all__' AS level, bucket, CAST(sum(cnt) AS BIGINT) AS cnt
  FROM hist GROUP BY 2),
tot AS (SELECT level, CAST(sum(cnt) AS BIGINT) AS n FROM allh GROUP BY 1),
cum AS (SELECT level, bucket,
               sum(cnt) OVER (PARTITION BY level ORDER BY bucket) AS cum
        FROM allh)
{" UNION ALL ".join(probe_rows)}
"""


def hdr_quantiles_with_exact(docs, ps: list[float], text_col: str = "text"):
    """(p, est, exact) rows: the sketch estimate beside the true
    rank-based quantile — the validation shape a pipeline runs before
    trusting the bounded-memory sketch at scale (same pitch as
    cms_heavy_hitters)."""
    from fluxdb_spark.session import spread

    lens = spread(docs).select(
        token_count(F.col(text_col)).alias("n_tok")
    )
    sk = (
        lens.select(F.expr(_hdr_idx_expr("n_tok")).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    est = hdr_quantiles(sk, ps)
    n = lens.agg(F.count(F.lit(1)).cast("long").alias("n"))
    lcum = lens.groupBy("n_tok").agg(F.count(F.lit(1)).alias("c")).withColumn(
        "lc",
        F.sum("c").over(
            Window.orderBy("n_tok").rowsBetween(
                Window.unboundedPreceding, 0
            )
        ),
    )
    exacts = None
    for p in ps:
        row = (
            lcum.join(F.broadcast(n))
            .filter(F.col("lc") >= F.ceil(F.lit(p) * F.col("n")))
            .agg(F.min("n_tok").cast("long").alias("exact"))
            .select(F.lit(p).alias("p"), "exact")
        )
        exacts = row if exacts is None else exacts.unionByName(row)
    return est.join(exacts, "p").orderBy("p")


def sql_hll_distinct_grouped(
    group: str = "event_type",
    key: str = "CAST(user_id AS VARCHAR)",
    source: str = "events",
) -> str:
    """DuckDB twin of a GROUPED hll_registers |> hll_estimate (the
    streaming-sketch shape: registers keyed by a group column), with the
    exact distinct count beside each estimate."""
    table = ", ".join(repr(x) for x in _hll_ln_table())
    w_expr = f"h % {1 << HLL_WINDOW}"
    si = (
        f"sum_nz + ({HLL_M} - nz) * CAST({1 << HLL_WINDOW} AS BIGINT)"
    )
    raw = f"{_HLL_RAW_NUM!r} / CAST({si} AS DOUBLE)"
    return f"""
WITH hashed AS (
  SELECT {group} AS grp, {hash60_sql(key)} AS h FROM {source}),
rho_rows AS (
  SELECT grp, CAST(floor(h / {1 << HLL_WINDOW}) AS BIGINT) AS register,
         CASE WHEN {w_expr} = 0 THEN {HLL_WINDOW + 1}
              ELSE {HLL_WINDOW} - length(bin(CAST({w_expr} AS BIGINT))) + 1
         END AS rho
  FROM hashed),
regs AS (SELECT grp, register, max(rho) AS max_rho
         FROM rho_rows GROUP BY 1, 2),
agg AS (SELECT grp,
               CAST(sum(CAST(1 AS BIGINT) << ({HLL_WINDOW} - max_rho))
                    AS BIGINT) AS sum_nz,
               CAST(count(*) AS BIGINT) AS nz
        FROM regs GROUP BY 1),
est AS (
  SELECT grp AS {group}, CAST({HLL_M} AS BIGINT) AS m,
         CAST({HLL_M} - nz AS BIGINT) AS zero_registers,
         CAST({si} AS BIGINT) AS harmonic_sum_e52,
         round(CASE WHEN {raw} <= {2.5 * HLL_M} AND ({HLL_M} - nz) > 0
               THEN [{table}][CAST({HLL_M} - nz AS INT)]
               ELSE {raw} END, 4) AS est_distinct
  FROM agg),
exact AS (SELECT {group}, CAST(count(DISTINCT {key}) AS BIGINT)
                 AS exact_distinct
          FROM {source} GROUP BY 1)
SELECT * FROM est JOIN exact USING ({group})
"""


# --- K-minimum-values sketch: distinct-set OPERATIONS ------------------------
#
# The fourth sketch in the family (CMS: frequencies, HLL: distinct
# counts, HDR: quantiles) and the one the others can't replace: KMV
# keeps the k smallest hash values of a set, and because "k smallest of
# A ∪ B" is computable from the two sketches alone, it supports SET
# ALGEBRA — union/intersection/Jaccard estimates between groups —
# where HLL gives only per-group cardinality (its registers union but
# intersections need inclusion-exclusion with compounding error).
# The audience-overlap question ("how many distinct users did BOTH
# event types?") is exactly the theta-sketch use case in Druid/DataSketches;
# this is the DataFrame-native, engine-portable rebuild: hash60 keys,
# k-smallest via a rank-<=-k window (compiles to a partial
# WindowGroupLimit — each map task ships at most k rows per group), and
# all-integer sketch contents so estimates are bit-deterministic.

KMV_K = 128
_KMV_SPACE = float(1 << 60)  # hash60 values are uniform in [0, 2^60)


def kmv_sketches(
    rows, group_col: str = "event_type", key: Column | str = "user_id"
):
    """The (g, h, rn) sketch relation: per group, the KMV_K smallest
    distinct hash60 values of the key, rank-numbered 1..k by h.

    Scale shape: the distinct() is a combine-friendly (g, h) groupBy;
    the rank window's `rn <= k` filter compiles to a partial
    WindowGroupLimit, so each map task forwards at most k rows per
    group into the g-shuffle — a mega-group cannot flood a reducer."""
    c = F.col(key) if isinstance(key, str) else key
    dh = rows.select(
        F.col(group_col).alias("g"), hash60(c.cast("string")).alias("h")
    ).distinct()
    w = Window.partitionBy("g").orderBy("h")
    return (
        dh.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= KMV_K)
    )


def kmv_set_overlap(
    rows, group_col: str = "event_type", key: Column | str = "user_id"
):
    """Distinct-key overlap between every pair of groups, estimated from
    KMV sketches and reported BESIDE the exact answer (the
    validation shape of `cms_heavy_hitters` / `hdr_quantiles` — run it
    before trusting the bounded-memory path at scale):

    (type_a, type_b, k_union, matches, est_union, est_intersection,
     exact_a, exact_b, exact_overlap)

    The union sketch of a pair is the k smallest of the two sketches'
    union (the KMV closure property — computable without the raw sets);
    `matches` counts union-sketch members present in BOTH single-group
    sketches, `est_intersection = (matches / k_u) * est_union` (Beyer
    et al. 2007). When the union sketch is not full (k_u < k) the union
    estimate IS the exact union size. Every estimate is a fixed chain
    of exact-integer -> double ops, identical text in the SQL twin, so
    even the floats hash-match cross-engine.

    Scale shape: sketches are <= |groups| * k rows however many keys
    exist; the pair relation is |groups|^2 and joins the sketch
    relation by BROADCAST; only the exact-baseline columns touch
    corpus-sized relations (one distinct + one equi-join on the key)."""
    return kmv_overlap_from_sketches(
        kmv_sketches(rows, group_col, key), rows, group_col, key
    )


def kmv_overlap_from_sketches(
    sk,
    rows,
    group_col: str = "event_type",
    key: Column | str = "user_id",
):
    """The pair/union/estimate stage of `kmv_set_overlap`, taking the
    sketch relation (g, h, rn) from anywhere — the batch window build or
    the streaming GroupState fold (`stateful.kmv_stream`); `rows` is the
    raw relation for the exact-baseline columns."""
    key_c = F.col(key) if isinstance(key, str) else key
    sk = sk.localCheckpoint(eager=False)
    types = sk.select("g").distinct()
    pairs = (
        types.select(F.col("g").alias("ga"))
        .join(
            F.broadcast(types.select(F.col("g").alias("gb"))),
            F.col("ga") < F.col("gb"),
        )
    )
    tagged = (
        sk.join(F.broadcast(pairs), F.col("g") == F.col("ga"))
        .select("ga", "gb", "h", "g")
        .unionByName(
            sk.join(F.broadcast(pairs), F.col("g") == F.col("gb")).select(
                "ga", "gb", "h", "g"
            )
        )
    )
    u = tagged.groupBy("ga", "gb", "h").agg(
        F.max(F.when(F.col("g") == F.col("ga"), 1).otherwise(0)).alias(
            "in_a"
        ),
        F.max(F.when(F.col("g") == F.col("gb"), 1).otherwise(0)).alias(
            "in_b"
        ),
    )
    wu = Window.partitionBy("ga", "gb").orderBy("h")
    usk = u.withColumn("urn", F.row_number().over(wu)).filter(
        F.col("urn") <= KMV_K
    )
    est = usk.groupBy("ga", "gb").agg(
        F.max("urn").cast("long").alias("k_union"),
        F.max("h").alias("h_k"),
        F.sum(F.col("in_a") * F.col("in_b")).cast("long").alias("matches"),
    )
    raw_u = (
        F.when(F.col("k_union") < KMV_K, F.col("k_union").cast("double"))
        .otherwise(
            (F.col("k_union") - 1).cast("double")
            * F.lit(_KMV_SPACE)
            / F.col("h_k").cast("double")
        )
    )
    est = est.select(
        "ga",
        "gb",
        "k_union",
        "matches",
        F.round(raw_u, 4).alias("est_union"),
        F.round(
            (F.col("matches").cast("double") / F.col("k_union").cast("double"))
            * raw_u,
            4,
        ).alias("est_intersection"),
    )
    du = rows.select(
        F.col(group_col).alias("g"), key_c.alias("u")
    ).distinct().localCheckpoint(eager=False)
    exact_g = du.groupBy("g").agg(F.count(F.lit(1)).cast("long").alias("n"))
    exact_ov = (
        du.alias("a")
        .join(
            du.alias("b"),
            (F.col("a.u") == F.col("b.u")) & (F.col("a.g") < F.col("b.g")),
        )
        .groupBy(
            F.col("a.g").alias("ga"), F.col("b.g").alias("gb")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("exact_overlap"))
    )
    return (
        est.join(exact_ov, ["ga", "gb"], "left")
        .join(
            F.broadcast(exact_g.select(F.col("g").alias("ga"),
                                       F.col("n").alias("exact_a"))),
            "ga",
        )
        .join(
            F.broadcast(exact_g.select(F.col("g").alias("gb"),
                                       F.col("n").alias("exact_b"))),
            "gb",
        )
        .select(
            F.col("ga").alias("type_a"),
            F.col("gb").alias("type_b"),
            "k_union",
            "matches",
            "est_union",
            "est_intersection",
            "exact_a",
            "exact_b",
            F.coalesce(F.col("exact_overlap"), F.lit(0))
            .cast("long")
            .alias("exact_overlap"),
        )
    )


def sql_kmv_set_overlap(
    source: str = "events",
    group: str = "event_type",
    key: str = "user_id",
) -> str:
    """DuckDB twin of `kmv_set_overlap` (same hash, same rank cuts, the
    estimate chain in the same textual op order)."""
    h = hash60_sql(f"CAST({key} AS VARCHAR)")
    return f"""
WITH dh AS (SELECT DISTINCT {group} AS g, {h} AS h FROM {source}),
sk AS (SELECT g, h, rn FROM (
         SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rn
         FROM dh) WHERE rn <= {KMV_K}),
types AS (SELECT DISTINCT g FROM sk),
pairs AS (SELECT a.g AS ga, b.g AS gb FROM types a JOIN types b ON a.g < b.g),
tagged AS (
  SELECT p.ga, p.gb, s.h, s.g FROM pairs p JOIN sk s ON s.g = p.ga
  UNION ALL
  SELECT p.ga, p.gb, s.h, s.g FROM pairs p JOIN sk s ON s.g = p.gb),
u AS (SELECT ga, gb, h,
             max(CASE WHEN g = ga THEN 1 ELSE 0 END) AS in_a,
             max(CASE WHEN g = gb THEN 1 ELSE 0 END) AS in_b
      FROM tagged GROUP BY 1, 2, 3),
usk AS (SELECT * FROM (
          SELECT *, row_number() OVER (PARTITION BY ga, gb ORDER BY h)
                      AS urn
          FROM u) WHERE urn <= {KMV_K}),
est0 AS (SELECT ga, gb,
                CAST(max(urn) AS BIGINT) AS k_union,
                max(h) AS h_k,
                CAST(sum(in_a * in_b) AS BIGINT) AS matches
         FROM usk GROUP BY 1, 2),
est AS (SELECT ga, gb, k_union, matches,
               round(CASE WHEN k_union < {KMV_K}
                          THEN CAST(k_union AS DOUBLE)
                          ELSE CAST(k_union - 1 AS DOUBLE) * {_KMV_SPACE!r}
                               / CAST(h_k AS DOUBLE) END, 4) AS est_union,
               round((CAST(matches AS DOUBLE) / CAST(k_union AS DOUBLE))
                     * CASE WHEN k_union < {KMV_K}
                            THEN CAST(k_union AS DOUBLE)
                            ELSE CAST(k_union - 1 AS DOUBLE) * {_KMV_SPACE!r}
                                 / CAST(h_k AS DOUBLE) END, 4)
                 AS est_intersection
        FROM est0),
du AS (SELECT DISTINCT {group} AS g, {key} AS u FROM {source}),
exact_g AS (SELECT g, CAST(count(*) AS BIGINT) AS n FROM du GROUP BY 1),
exact_ov AS (SELECT a.g AS ga, b.g AS gb,
                    CAST(count(*) AS BIGINT) AS exact_overlap
             FROM du a JOIN du b ON a.u = b.u AND a.g < b.g
             GROUP BY 1, 2)
SELECT e.ga AS type_a, e.gb AS type_b, e.k_union, e.matches,
       e.est_union, e.est_intersection,
       na.n AS exact_a, nb.n AS exact_b,
       CAST(coalesce(o.exact_overlap, 0) AS BIGINT) AS exact_overlap
FROM est e
LEFT JOIN exact_ov o ON o.ga = e.ga AND o.gb = e.gb
JOIN exact_g na ON na.g = e.ga
JOIN exact_g nb ON nb.g = e.gb
"""


# --- in-engine learned quality classifier (batch perceptron) -----------------
#
# The fasttext-style learned quality filter of production pipelines
# (GPT-3/CCNet train a linear classifier over cheap features and screen
# the corpus with it), rebuilt as EXACT DataFrame algebra: a batch
# perceptron distills the Gopher rule set's keep/drop labels into
# integer weights over exact count features. Every quantity is BIGINT —
# margins, updates, error counts — so training is bit-deterministic and
# the whole trajectory (per-epoch error + weights) hash-matches an
# unrolled SQL twin; no libm, no float accumulation, no learning-rate
# float. At corpus scale each epoch is ONE combine-friendly aggregate
# scan of the feature relation (map-side partial sums), with O(dim)
# driver state — the kmeans/kcenter precedent.

QP_EPOCHS = 6
_QP_DIM = 5


def perceptron_features(docs, id_col: str = "doc_id", text_col: str = "text"):
    """(id, y, x0..x4): label y = +-1 from the Gopher-rule keep decision;
    features are the bias, the three RULE INDICATORS (0/1), and the
    capped distinct-stopword count. Raw counts (tokens, chars) were
    tried first and oscillate forever — a conjunction of range rules is
    not linearly separable in raw counts, and batch updates with
    1000x-scale features overshoot (n_wrong plateaued ~47%); in
    indicator space AND is separable and the batch perceptron reaches
    ZERO disagreement by epoch ~5. Map-side JVM expressions only; the
    token arrays are hoisted into a parent projection so each is built
    once per row, not once per rule (quality_rules_from)."""
    t = F.col(text_col)
    hoisted = docs.select(
        F.col(id_col),
        tokens(t).alias("_pf_toks"),
        F.array_distinct(tokens(F.lower(t))).alias("_pf_dlt"),
    )
    rules = quality_rules_from(F.col("_pf_toks"), F.col("_pf_dlt"))
    return hoisted.select(
        F.col(id_col),
        F.when(rules["keep"], F.lit(1)).otherwise(F.lit(-1))
        .cast("long")
        .alias("y"),
        F.lit(1).cast("long").alias("x0"),
        rules["ok_len"].cast("long").alias("x1"),
        rules["ok_mean_len"].cast("long").alias("x2"),
        rules["ok_stopwords"].cast("long").alias("x3"),
        F.least(rules["n_distinct_stopwords"], F.lit(8))
        .cast("long")
        .alias("x4"),
    )


def quality_perceptron(docs, epochs: int = QP_EPOCHS):
    """Batch-perceptron training trajectory:
    (epoch, n_wrong, w0..w4) — n_wrong is the misclassified count under
    the weights BEFORE that epoch's update (so epoch 1 reports the
    zero-weight baseline: every margin is 0 and counts as wrong), and
    w0..w4 are the weights AFTER folding the epoch's summed update
    w += sum_{y*(w.x) <= 0} y*x (the batch form — data-parallel where
    the classic per-sample rule is inherently sequential).

    Epoch chaining stays a DRIVER LOOP (collect the 1-row epoch
    aggregate, fold, re-issue with literal weights): unrolling all
    epochs into one plan — the SQL twin's chained-CTE shape — was tried
    and is SLOWER in Spark (7.2 vs 4.2 s at sf0.1): each level embeds
    the whole previous chain and the trajectory union references every
    level again, so analysis re-pays O(epochs^2) aggregate subplans on
    every fresh invocation, where the loop's 6 mini-plans are O(1) each
    and their codegen caches across runs (literals are deterministic)."""
    feats = perceptron_features(docs).localCheckpoint()
    w = [0] * _QP_DIM
    rows = []
    for e in range(1, epochs + 1):
        wx = sum(
            (F.col(f"x{j}") * F.lit(w[j]) for j in range(_QP_DIM)),
            F.lit(0).cast("long"),
        )
        cond = (F.col("y") * wx) <= 0
        aggs = [
            F.sum(F.when(cond, 1).otherwise(0)).cast("long").alias("n_wrong")
        ] + [
            F.sum(F.when(cond, F.col("y") * F.col(f"x{j}")).otherwise(0))
            .cast("long")
            .alias(f"d{j}")
            for j in range(_QP_DIM)
        ]
        r = feats.agg(*aggs).collect()[0]
        w = [w[j] + int(r[f"d{j}"] or 0) for j in range(_QP_DIM)]
        rows.append((e, int(r["n_wrong"]), *w))
    schema = "epoch long, n_wrong long, " + ", ".join(
        f"w{j} long" for j in range(_QP_DIM)
    )
    return docs.sparkSession.createDataFrame(rows, schema)


def sql_quality_perceptron(epochs: int = QP_EPOCHS) -> str:
    """DuckDB twin of `quality_perceptron`: epochs unrolled as
    MATERIALIZED CTEs (each epoch reads the previous 1-row weight CTE)."""
    r = sql_quality_rules("text")
    ws = ", ".join(f"CAST(0 AS BIGINT) AS w{j}" for j in range(_QP_DIM))
    parts = [
        f"""
WITH f AS MATERIALIZED (
  SELECT doc_id, CAST(CASE WHEN {r['keep']} THEN 1 ELSE -1 END AS BIGINT) AS y,
         CAST(1 AS BIGINT) AS x0,
         CAST(CASE WHEN {r['ok_len']} THEN 1 ELSE 0 END AS BIGINT) AS x1,
         CAST(CASE WHEN {r['ok_mean_len']} THEN 1 ELSE 0 END AS BIGINT) AS x2,
         CAST(CASE WHEN {r['ok_stopwords']} THEN 1 ELSE 0 END AS BIGINT) AS x3,
         CAST(least({r['n_distinct_stopwords']}, 8) AS BIGINT) AS x4
  FROM documents),
e0 AS (SELECT CAST(0 AS BIGINT) AS n_wrong, {ws})"""
    ]
    dot = " + ".join(f"p.w{j} * f.x{j}" for j in range(_QP_DIM))
    for e in range(1, epochs + 1):
        upd = ", ".join(
            f"CAST(p.w{j} + sum(CASE WHEN f.y * ({dot}) <= 0"
            f" THEN f.y * f.x{j} ELSE 0 END) AS BIGINT) AS w{j}"
            for j in range(_QP_DIM)
        )
        grp = ", ".join(f"p.w{j}" for j in range(_QP_DIM))
        parts.append(f"""
e{e} AS MATERIALIZED (
  SELECT CAST(sum(CASE WHEN f.y * ({dot}) <= 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_wrong,
         {upd}
  FROM f CROSS JOIN e{e - 1} p
  GROUP BY {grp})""")
    union = "\nUNION ALL\n".join(
        f"SELECT CAST({e} AS BIGINT) AS epoch, n_wrong, "
        + ", ".join(f"w{j}" for j in range(_QP_DIM))
        + f" FROM e{e}"
        for e in range(1, epochs + 1)
    )
    return ",".join(parts) + f"\n{union}\nORDER BY epoch\n"


# --- per-source vocabulary divergence (outlier-source detection) -------------


def source_divergence(
    docs,
    top_terms: int = 5,
    source_col: str = "source",
    text_col: str = "text",
):
    """Which sources' vocabularies deviate most from the corpus, and on
    which terms — the outlier-source audit a mix designer runs before
    trusting a crawl feed (a spam domain or boilerplate-heavy source
    shows up as a huge chi-square contribution on a handful of terms
    long before any quality rule fires).

    Per (source, term): obs = the source's count, exp = the corpus
    share of the term scaled to the source's size, contribution =
    (obs - exp)^2 / exp (the Pearson chi-square cell). Output: the
    `top_terms` largest contributions per source, with the source's
    token total — exact integer counts until the two divisions, whose
    fixed exact-int -> double chain is spelled identically in the SQL
    twin so even the doubles hash-match.

    Scale shape: one explode -> (source, term) groupBy with map-side
    combine (shuffle is |sources|*|vocab| counts, never corpus size);
    corpus totals re-aggregate THAT relation (combine-friendly, no
    second scan); totals join back by broadcast (|sources| + |vocab|
    rows); the per-source top-k is a rank <= k window = partial
    WindowGroupLimit."""
    from fluxdb_spark.session import spread

    st = (
        spread(docs)
        .select(
            F.col(source_col).alias("source"),
            F.explode(tokens(F.lower(F.col(text_col)))).alias("term"),
        )
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("obs"))
    )
    return source_divergence_from_counts(st, top_terms)


def source_divergence_from_counts(st, top_terms: int = 5):
    """The divergence rollup alone, over a (source, term, obs) count
    relation from anywhere — the batch explode or the standing table a
    streaming query maintains (`stream_source_divergence`)."""
    st = st.localCheckpoint(eager=False)
    src_tot = st.groupBy("source").agg(
        F.sum("obs").cast("long").alias("src_n")
    )
    term_tot = st.groupBy("term").agg(
        F.sum("obs").cast("long").alias("term_n")
    )
    corpus_n = st.agg(F.sum("obs").cast("long").alias("corpus_n"))
    exp = (
        F.col("term_n").cast("double")
        * F.col("src_n").cast("double")
        / F.col("corpus_n").cast("double")
    )
    contrib = (F.col("obs").cast("double") - exp) * (
        F.col("obs").cast("double") - exp
    ) / exp
    # rank on the ROUNDED contribution (the emitted column) so the
    # Spark and SQL orderings see byte-identical keys
    w = Window.partitionBy("source").orderBy(
        F.desc("chi2_contrib"), F.asc("term")
    )
    return (
        st.join(F.broadcast(src_tot), "source")
        .join(F.broadcast(term_tot), "term")
        .crossJoin(F.broadcast(corpus_n))
        .select(
            "source",
            "term",
            "obs",
            "src_n",
            F.round(exp, 4).alias("expected"),
            F.round(contrib, 4).alias("chi2_contrib"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_terms)
        .select(
            "source",
            F.col("rank").cast("long").alias("rank"),
            "term",
            "obs",
            "src_n",
            "expected",
            "chi2_contrib",
        )
    )


def sql_divergence_chain(counts_ctes: str, top_terms: int = 5) -> str:
    """The chi-square divergence chain over any `counts(source, term,
    obs)` CTE block — shared by the corpus audit and the temporal drift
    twin, spelled in the same textual op order as the Spark side."""
    return f"""
WITH {counts_ctes},
src_tot AS (SELECT source, CAST(sum(obs) AS BIGINT) AS src_n
            FROM counts GROUP BY 1),
term_tot AS (SELECT term, CAST(sum(obs) AS BIGINT) AS term_n
             FROM counts GROUP BY 1),
corpus AS (SELECT CAST(sum(obs) AS BIGINT) AS corpus_n FROM counts),
scored AS (
  SELECT c.source, c.term, c.obs, s.src_n,
         round(CAST(t.term_n AS DOUBLE) * CAST(s.src_n AS DOUBLE)
               / CAST(corpus_n AS DOUBLE), 4) AS expected,
         round((CAST(c.obs AS DOUBLE)
                - CAST(t.term_n AS DOUBLE) * CAST(s.src_n AS DOUBLE)
                  / CAST(corpus_n AS DOUBLE))
               * (CAST(c.obs AS DOUBLE)
                  - CAST(t.term_n AS DOUBLE) * CAST(s.src_n AS DOUBLE)
                    / CAST(corpus_n AS DOUBLE))
               / (CAST(t.term_n AS DOUBLE) * CAST(s.src_n AS DOUBLE)
                  / CAST(corpus_n AS DOUBLE)), 4) AS chi2_contrib
  FROM counts c
  JOIN src_tot s USING (source)
  JOIN term_tot t USING (term)
  CROSS JOIN corpus),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY source
                               ORDER BY chi2_contrib DESC, term) AS rank
  FROM scored)
SELECT source, CAST(rank AS BIGINT) AS rank, term, obs, src_n,
       expected, chi2_contrib
FROM ranked WHERE rank <= {top_terms}
"""


def sql_source_divergence(top_terms: int = 5) -> str:
    """DuckDB twin of `source_divergence` (same count relations, the
    divergence chain in the same textual op order)."""
    return sql_divergence_chain(
        """st AS MATERIALIZED (
  SELECT source, unnest(string_split(lower(text), ' ')) AS term
  FROM documents),
counts AS MATERIALIZED (
  SELECT source, term, CAST(count(*) AS BIGINT) AS obs
  FROM st GROUP BY 1, 2)""",
        top_terms,
    )


# --- collocation mining (PMI-style lift, exact integer) ----------------------
#
# Which adjacent word pairs co-occur far more than their unigram
# frequencies predict — the classic collocation / multi-word-expression
# extractor (Church & Hanks 1990 PMI). The score is kept in EXACT INTEGER
# arithmetic instead of log-space PMI: lift_ppm = 10^6 * P(ab)/(P(a)P(b))
# computed as ((c_ab * 10^6) div c_a) * NB div c_b — same ranking as PMI
# (log is monotone), no libm in either engine, bit-identical to the
# oracle. Two-step division keeps intermediates under 64 bits: the first
# quotient is <= 10^6 (c_ab <= c_a), so the second product is <= 10^6*NB.

COLLOC_MIN_COUNT = 5
_LIFT_SCALE = 1_000_000


def bigram_pairs(text: Column) -> Column:
    """All ADJACENT lowercase token pairs, in order (one-bind token-array
    trick, as word_shingles)."""

    def _pairs(toks: Column) -> Column:
        idx = F.sequence(F.lit(1), F.size(toks) - 1, F.lit(1))
        body = F.transform(
            idx,
            lambda i: F.struct(
                F.element_at(toks, i).alias("w1"),
                F.element_at(toks, i + 1).alias("w2"),
            ),
        )
        return F.when(F.size(toks) >= 2, body).otherwise(
            F.array().cast("array<struct<w1:string,w2:string>>")
        )

    return F.element_at(
        F.transform(F.array(tokens(F.lower(text))), _pairs), 1
    )


def collocations(
    docs: DataFrame,
    min_count: int = COLLOC_MIN_COUNT,
    top_k: int = 20,
) -> DataFrame:
    """Top-k collocations by integer lift over the corpus.

    Scale: one bigram explode + groupBy (map-side combined, output is the
    bigram vocabulary — Zipf-bounded, not corpus-bounded) and one unigram
    groupBy; the unigram relation joins back BROADCAST (vocabulary-sized);
    the bigram total rides a 1-row broadcast; top-k is sort+limit.

    Returns (w1, w2, c_ab, lift_ppm, rank).
    """
    bgc = (
        bigram_count_stream(docs)
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_ab"))
    )
    uni = (
        unigram_count_stream(docs)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return collocations_from_counts(bgc, uni, min_count, top_k)


def bigram_count_stream(docs: DataFrame) -> DataFrame:
    """(w1, w2) one row per adjacent pair — the pre-aggregation relation
    shared by the batch operator and the Structured-Streaming twin."""
    return docs.select(
        F.explode(bigram_pairs(F.col("text"))).alias("p")
    ).select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))


def unigram_count_stream(docs: DataFrame) -> DataFrame:
    return docs.select(
        F.explode(tokens(F.lower(F.col("text")))).alias("tok")
    )


def collocations_from_counts(
    bgc: DataFrame,
    uni: DataFrame,
    min_count: int = COLLOC_MIN_COUNT,
    top_k: int = 20,
) -> DataFrame:
    """Finish collocation scoring from COUNT TABLES (w1, w2, c_ab) and
    (tok, c) — the seam the streaming twin shares: counts are additive,
    so Structured Streaming can maintain both tables incrementally
    (micro-batch merge IS the count merge) and this batch finisher runs
    over state bounded by the Zipf vocabulary, never the stream."""
    nb = bgc.agg(F.sum("c_ab").cast("long").alias("n"))  # 1-row broadcast
    scored = (
        bgc.filter(F.col("c_ab") >= min_count)
        .join(
            F.broadcast(uni.select(F.col("tok").alias("w1"),
                                   F.col("c").alias("c_a"))),
            "w1",
        )
        .join(
            F.broadcast(uni.select(F.col("tok").alias("w2"),
                                   F.col("c").alias("c_b"))),
            "w2",
        )
        .crossJoin(F.broadcast(nb))
        .select(
            "w1",
            "w2",
            "c_ab",
            F.expr(
                f"(((c_ab * {_LIFT_SCALE}) div c_a) * n) div c_b"
            ).alias("lift_ppm"),
        )
    )
    top = scored.orderBy(
        F.desc("lift_ppm"), F.asc("w1"), F.asc("w2")
    ).limit(top_k)
    w = Window.orderBy(F.desc("lift_ppm"), F.asc("w1"), F.asc("w2"))
    return top.withColumn("rank", F.row_number().over(w).cast("long"))


def sql_collocations(
    min_count: int = COLLOC_MIN_COUNT, top_k: int = 20
) -> str:
    """DuckDB twin of `collocations` (identical two-step division)."""
    return f"""
WITH toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
bg AS (
  SELECT t[i] AS w1, t[i + 1] AS w2
  FROM toks, unnest(range(1, len(t))) AS u(i)),
bgc AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_ab
  FROM bg GROUP BY 1, 2 HAVING count(*) >= {min_count}),
uni AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT unnest(t) AS tok FROM toks) GROUP BY 1),
nb AS (SELECT CAST(count(*) AS BIGINT) AS n FROM bg),
scored AS (
  SELECT w1, w2, c_ab,
         (((c_ab * {_LIFT_SCALE}) // ua.c) * n) // ub.c AS lift_ppm
  FROM bgc JOIN uni ua ON ua.tok = w1 JOIN uni ub ON ub.tok = w2, nb),
top AS (
  SELECT * FROM scored
  ORDER BY lift_ppm DESC, w1 ASC, w2 ASC LIMIT {top_k})
SELECT w1, w2, c_ab, lift_ppm,
       CAST(row_number() OVER (ORDER BY lift_ppm DESC, w1 ASC, w2 ASC)
            AS BIGINT) AS rank
FROM top
"""


# --- per-document keyword extraction (integer tf-idf) -------------------------

KEYWORDS_PER_DOC = 3


def doc_keywords(docs: DataFrame, top_k: int = KEYWORDS_PER_DOC) -> DataFrame:
    """Top-k characteristic terms per document by integer tf-idf: score =
    (tf * N) div df — the tf x inverse-document-frequency RATIO, which
    ranks identically to classic tf-idf for any monotone idf transform,
    in pure integral arithmetic (no libm log, bit-identical to the
    oracle). Complements BM25 (query-side scoring) with the doc-side
    fingerprint a tagger / indexer / summary pipeline wants.

    Scale: one (doc, term) groupBy (map-side combined); df comes from a
    second groupBy OVER THAT relation (vocabulary-sized output) and joins
    back BROADCAST; N rides a 1-row broadcast; the per-doc top-k is a
    rank <= k window partitioned by doc — a partial WindowGroupLimit,
    never a global sort.

    Returns (doc_id, term, tf, score, rank).
    """
    tf = (
        docs.select(
            "doc_id",
            F.explode(tokens(F.lower(F.col("text")))).alias("term"),
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    nd = docs.agg(F.count(F.lit(1)).alias("n"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(nd))
        .select(
            "doc_id",
            "term",
            "tf",
            F.expr("(tf * n) div df").alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= top_k)
        .select("doc_id", "term", "tf", "score", "rank")
    )


def sql_doc_keywords(top_k: int = KEYWORDS_PER_DOC) -> str:
    """DuckDB twin of `doc_keywords` (identical integral arithmetic)."""
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
  FROM documents),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM toks GROUP BY 1, 2),
dfreq AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
scored AS (
  SELECT doc_id, term, tf, (tf * n) // df AS score
  FROM tf JOIN dfreq USING (term), nd),
ranked AS (
  SELECT *, CAST(row_number() OVER (
              PARTITION BY doc_id ORDER BY score DESC, term ASC)
            AS BIGINT) AS rank
  FROM scored)
SELECT doc_id, term, tf, score, rank FROM ranked WHERE rank <= {top_k}
"""


# --- sketch-based join-size estimation (CMS inner product) --------------------
#
# Cormode & Muthukrishnan 2005 §4.2: the inner product of two frequency
# vectors — EXACTLY the row count of an inner equi-join, sum_k cA(k)*cB(k)
# — is estimated by min over rows of the bucket-wise product of two
# count-min sketches. This is the query-planner primitive: at 100 TB you
# decide join strategy (broadcast? shuffle? which side builds?) from two
# depth*width counter tables produced by one map-side-combined pass over
# each input, never from the join itself. Guaranteed an OVERESTIMATE
# (collisions only add mass), within e/width * |A|*|B| with the usual CMS
# probability; both the sketches and the estimate are exact integer
# arithmetic over the portable hash, so the whole thing hash-matches the
# oracle.


def _cms_key_sketch(df: DataFrame, key_col: str, depth: int, width: int):
    keys = df.select(F.col(key_col).cast("string").alias("term"))
    keyed = keys.select(
        F.explode(F.array(*[F.lit(r) for r in range(depth)])).alias("r"),
        "term",
    ).select(
        "r", _cms_bucket(F.col("term"), F.col("r"), width).alias("bucket")
    )
    return keyed.groupBy("r", "bucket").agg(F.count(F.lit(1)).alias("cnt"))


def _cms_count_sketch(
    counts: DataFrame, key_col: str, cnt_col: str, depth: int, width: int
):
    """CMS counters folded from a per-key COUNT relation instead of raw
    rows: counter(r, bucket) = sum of the counts of the keys hashing
    there — the same integers `_cms_key_sketch` produces, with the
    bucket hash evaluated once per (key, row) instead of once per
    (input row, row)."""
    keyed = counts.select(
        F.col(key_col).cast("string").alias("term"), F.col(cnt_col)
    ).select(
        F.explode(F.array(*[F.lit(r) for r in range(depth)])).alias("r"),
        "term",
        cnt_col,
    ).select(
        "r",
        _cms_bucket(F.col("term"), F.col("r"), width).alias("bucket"),
        cnt_col,
    )
    return keyed.groupBy("r", "bucket").agg(
        F.sum(cnt_col).alias("cnt")
    )


def cms_join_size(
    a: DataFrame,
    b: DataFrame,
    a_key: str,
    b_key: str,
    depth: int = CMS_DEPTH,
    width: int = 4096,
) -> DataFrame:
    """(method, n_rows) with the EXACT inner equi-join size beside the CMS
    inner-product estimate. The exact side is computed as the inner
    product of the two per-key count relations (sum cA*cB — the join
    size without materializing the join); the estimate touches only the
    two depth*width counter tables.

    Each input is SCANNED ONCE: the sketches are folded from the per-key
    count relations the exact side needs anyway (counter(r, bucket) =
    sum over keys hashing there of that key's count — identical integer
    sums to hashing every raw row), so the salted md5 bucket hash runs
    |keys| * depth times instead of |rows| * depth, and the raw-row pass
    per side disappears."""
    ca = a.groupBy(F.col(a_key).alias("k")).agg(
        F.count(F.lit(1)).alias("ca")
    )
    cb = b.groupBy(F.col(b_key).alias("k")).agg(
        F.count(F.lit(1)).alias("cb")
    )
    ska = _cms_count_sketch(ca, "k", "ca", depth, width)
    skb = _cms_count_sketch(cb, "k", "cb", depth, width)
    est = (
        ska.withColumnRenamed("cnt", "sca")
        .join(skb.withColumnRenamed("cnt", "scb"), ["r", "bucket"])
        .groupBy("r")
        .agg(F.sum(F.col("sca") * F.col("scb")).alias("prod"))
        .agg(F.min("prod").cast("long").alias("n_rows"))
        .select(F.lit("cms_estimate").alias("method"), "n_rows")
    )
    exact = (
        ca.join(cb, "k")
        .agg(
            F.coalesce(F.sum(F.col("ca") * F.col("cb")), F.lit(0))
            .cast("long")
            .alias("n_rows")
        )
        .select(F.lit("exact").alias("method"), "n_rows")
    )
    return exact.unionByName(est)


def sql_cms_join_size(
    a_table: str,
    b_table: str,
    a_key: str,
    b_key: str,
    depth: int = CMS_DEPTH,
    width: int = 4096,
) -> str:
    """DuckDB twin of `cms_join_size` (same salted buckets)."""
    return f"""
WITH rws AS (SELECT unnest(range(0, {depth})) AS r),
ka AS (SELECT CAST({a_key} AS VARCHAR) AS term FROM {a_table}),
kb AS (SELECT CAST({b_key} AS VARCHAR) AS term FROM {b_table}),
ska AS (SELECT r, {_cms_bucket_sql('term', 'r', width)} AS bucket,
               CAST(count(*) AS BIGINT) AS ca
        FROM ka, rws GROUP BY 1, 2),
skb AS (SELECT r, {_cms_bucket_sql('term', 'r', width)} AS bucket,
               CAST(count(*) AS BIGINT) AS cb
        FROM kb, rws GROUP BY 1, 2),
prods AS (SELECT a.r, CAST(sum(a.ca * b.cb) AS BIGINT) AS prod
          FROM ska a JOIN skb b USING (r, bucket) GROUP BY 1),
est AS (SELECT 'cms_estimate' AS method,
               CAST(min(prod) AS BIGINT) AS n_rows FROM prods),
ca AS (SELECT {a_key} AS k, CAST(count(*) AS BIGINT) AS c
       FROM {a_table} GROUP BY 1),
cb AS (SELECT {b_key} AS k, CAST(count(*) AS BIGINT) AS c
       FROM {b_table} GROUP BY 1),
exact AS (SELECT 'exact' AS method,
                 CAST(coalesce(sum(ca.c * cb.c), 0) AS BIGINT) AS n_rows
          FROM ca JOIN cb USING (k))
SELECT * FROM exact UNION ALL SELECT * FROM est
"""
