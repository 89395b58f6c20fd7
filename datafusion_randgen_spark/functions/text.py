"""Text-analysis column builders — pure Catalyst expressions.

Everything here is built from ``pyspark.sql.functions`` string/array
primitives so it codegens JVM-side: at 100 TB the per-document cost is a
handful of vectorized ops, no Python workers, no shuffle (all are
row-local ``withColumn`` transforms).

Oracle note: each builder has a deliberately SQL-expressible definition
so the DuckDB oracle can compute the identical quantity.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Small per-language marker lexicons for the n-gram/stopword heuristic
# language ID.  Chosen to be expressible identically in ANSI SQL.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "is", "to"),
    "de": ("der", "und", "die", "ist", "das"),
    "fr": ("le", "la", "et", "est", "les"),
    "es": ("el", "de", "que", "los", "es"),
    "zh": ("的", "是", "了", "在", "我"),
}

STOPWORDS_EN = ("the", "a", "an", "and", "or", "of", "to", "is", "in", "it")


def tokens(text: Column) -> Column:
    """Whitespace tokenization (empty strings filtered).

    The explicit class [ \\t\\n\\f\\r] is exactly RE2's \\s, so every
    DuckDB '\\s+' oracle agrees by construction; Java's \\s would also
    match \\x0B and silently diverge on fixture drift."""
    return F.filter(F.split(text, r"[ \t\n\f\r]+"), lambda t: t != "")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def bpe_ish_token_count(text: Column) -> Column:
    """BPE-flavored token estimate: split on word/number/punct boundaries.

    A deterministic regex proxy for subword tokenizers: words count
    ceil(len/4) pieces, digits and punctuation count one each.
    """
    words = F.filter(F.split(text, r"[^A-Za-z]+"), lambda t: t != "")
    word_pieces = F.aggregate(
        words, F.lit(0), lambda acc, w: acc + F.ceil(F.length(w) / F.lit(4.0)).cast("int")
    )
    non_word = F.length(F.regexp_replace(text, r"[A-Za-z \t\n\f\r]+", ""))
    return (word_pieces + non_word).cast("long")


def marker_hits(text: Column, word: str) -> Column:
    """Occurrences of ``word`` as a whole token, via padded-LIKE counting:
    (len(s) - len(replace(s, w))) / len(w) over ' '||s||' ' — the exact
    formulation the DuckDB oracle uses."""
    padded = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    needle = f" {word} "
    return (
        (F.length(padded) - F.length(F.replace(padded, F.lit(needle), F.lit(""))))
        / F.lit(len(needle))
    ).cast("long")


def lang_score(text: Column, lang: str) -> Column:
    score = F.lit(0).cast("long")
    for w in LANG_MARKERS[lang]:
        score = score + marker_hits(text, w)
    return score


def predict_lang(text: Column) -> Column:
    """Argmax language over marker scores; deterministic tie-break by
    language code order (en < de < fr < es < zh priority = insertion
    order, ties go to the earlier entry)."""
    langs = list(LANG_MARKERS)
    best = F.lit(langs[0])
    best_score = lang_score(text, langs[0])
    for lang in langs[1:]:
        s = lang_score(text, lang)
        best = F.when(s > best_score, F.lit(lang)).otherwise(best)
        best_score = F.when(s > best_score, s).otherwise(best_score)
    return best


def stopword_ratio(text: Column) -> Column:
    hits = F.lit(0).cast("long")
    for w in STOPWORDS_EN:
        hits = hits + marker_hits(text, w)
    return hits.cast("double") / F.greatest(token_count(text).cast("double"), F.lit(1.0))


def punct_ratio(text: Column) -> Column:
    return F.length(F.regexp_replace(text, r"[^.,;:!?]", "")).cast("double") / F.greatest(
        F.length(text).cast("double"), F.lit(1.0)
    )


def mean_token_len(text: Column) -> Column:
    t = tokens(text)
    return F.aggregate(t, F.lit(0).cast("long"), lambda a, w: a + F.length(w)).cast(
        "double"
    ) / F.greatest(F.size(t).cast("double"), F.lit(1.0))


def quality_parts(text: Column) -> tuple[Column, Column, Column, Column]:
    """The four ``quality_score`` components ``(len_ok, punct_ok,
    stop_ok, tok_ok)``, exposed so pipelines can reuse them — e.g. as
    the feature vector of a model-scored filter stage — without
    recomputing the composite from scratch."""
    len_ok = F.least(F.length(text).cast("double") / F.lit(200.0), F.lit(1.0))
    punct_ok = F.lit(1.0) - F.least(punct_ratio(text) * F.lit(10.0), F.lit(1.0))
    stop_ok = F.least(stopword_ratio(text) * F.lit(5.0), F.lit(1.0))
    tok = mean_token_len(text)
    tok_ok = F.when((tok >= 3.0) & (tok <= 10.0), F.lit(1.0)).otherwise(F.lit(0.5))
    return len_ok, punct_ok, stop_ok, tok_ok


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality heuristic: long enough, low punctuation
    noise, healthy stopword ratio, sane mean token length."""
    len_ok, punct_ok, stop_ok, tok_ok = quality_parts(text)
    return F.round((len_ok + punct_ok + stop_ok + tok_ok) / F.lit(4.0), 6)


def _let(value: Column, body) -> Column:
    """Bind ``value`` once per row and evaluate ``body`` against the
    bound reference — a let-expression via a single-element
    ``transform``.  Catalyst has no common-subexpression elimination
    across a lambda boundary: an array expression referenced N times
    inside a transform re-evaluates N times PER ELEMENT (measured 3-60×
    slowdowns on the shingle/winnowing builders); the HOF argument, by
    contrast, is evaluated exactly once per row."""
    return F.get(F.transform(F.array(value), body), 0)


def word_shingles(text: Column, k: int = 3) -> Column:
    """Distinct word k-grams of ``text`` — the dedup/similarity unit.

    Built with transform over a sequence of start offsets; stays
    JVM-side, with the token array let-bound so it tokenizes once per
    row instead of once per gram element (2.8× on the 500-doc fixture).
    """

    def body(t: Column) -> Column:
        n = F.size(t)
        # documents shorter than k tokens have NO k-grams: guard before
        # sequence() — sequence(1, 0) is the DESCENDING array [1, 0] in
        # Spark, which would drive element_at out of range and crash
        idx = F.sequence(F.lit(1), n - F.lit(k - 1))
        grams = F.array_distinct(
            F.transform(
                idx,
                lambda i: F.concat_ws(
                    " ", *[F.element_at(t, i + j) for j in range(k)]
                ),
            )
        )
        return F.when(n >= F.lit(k), grams).otherwise(
            F.array().cast("array<string>")
        )

    return _let(tokens(F.lower(text)), body)


def synth_url(doc_id: Column, source: Column) -> Column:
    """Deterministic noisy URL from (doc_id, source) — the fixture
    generator for the URL-canonicalization entries (the corpus tables
    carry no URL column, so one is synthesized reproducibly, the same
    pattern as the binaryFile fixture).  Noise classes keyed off
    doc_id: scheme case, www prefix (two cases), host case, explicit
    default port, trailing slash, utm tracking params vs a meaningful
    ?ref param, and a fragment — every class the canonicalizer must
    strip or preserve."""
    scheme = F.when(doc_id % 3 == 0, "HTTPS").otherwise("https")
    www = (
        F.when(doc_id % 4 == 1, "WWW.")
        .when(doc_id % 4 == 2, "www.")
        .otherwise("")
    )
    host = F.concat(
        F.when(doc_id % 5 == 0, F.upper(source)).otherwise(source),
        F.when(doc_id % 2 == 0, F.lit(".example.com")).otherwise(
            F.lit(".Example.Com")
        ),
    )
    port = F.when(doc_id % 7 == 2, ":443").otherwise("")
    path = F.concat(F.lit("/articles/"), (doc_id % 25).cast("string"))
    slash = F.when(doc_id % 2 == 0, "/").otherwise("")
    query = (
        F.when(doc_id % 3 == 1, "?utm_source=feed&utm_campaign=spring")
        .when(doc_id % 3 == 2, "?ref=home")
        .otherwise("")
    )
    frag = F.when(doc_id % 6 == 3, "#section-2").otherwise("")
    return F.concat(
        scheme, F.lit("://"), www, host, port, path, slash, query, frag
    )


SYNTH_URL_SQL = """
    concat(
      CASE WHEN doc_id % 3 = 0 THEN 'HTTPS' ELSE 'https' END, '://',
      CASE WHEN doc_id % 4 = 1 THEN 'WWW.'
           WHEN doc_id % 4 = 2 THEN 'www.' ELSE '' END,
      CASE WHEN doc_id % 5 = 0 THEN upper(source) ELSE source END,
      CASE WHEN doc_id % 2 = 0 THEN '.example.com' ELSE '.Example.Com' END,
      CASE WHEN doc_id % 7 = 2 THEN ':443' ELSE '' END,
      '/articles/', CAST(doc_id % 25 AS VARCHAR),
      CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END,
      CASE WHEN doc_id % 3 = 1 THEN '?utm_source=feed&utm_campaign=spring'
           WHEN doc_id % 3 = 2 THEN '?ref=home' ELSE '' END,
      CASE WHEN doc_id % 6 = 3 THEN '#section-2' ELSE '' END
    )
"""  # the DuckDB mirror of synth_url — kept textually adjacent so the
#      two definitions drift together or not at all


def url_host(url: Column) -> Column:
    """Canonical host: lowercased authority, default :443 port and
    leading www. stripped."""
    hostport = F.lower(F.regexp_extract(url, r"^[A-Za-z]+://([^/?#]+)", 1))
    return F.regexp_replace(
        F.regexp_replace(hostport, r":443$", ""), r"^www\.", ""
    )


def canonicalize_url(url: Column) -> Column:
    """CCNet/RefinedWeb-style URL canonicalization, pure Catalyst string
    ops: lowercase scheme+host, strip leading ``www.``, strip the
    https default port, drop the fragment, strip ``utm_*`` tracking
    params (preserving meaningful ones), and trim trailing slashes off
    the path (root stays ``/``).  Row-local — no shuffle; the
    canonical string then feeds ordinary hash-key dedup."""
    scheme = F.lower(F.regexp_extract(url, r"^([A-Za-z]+)://", 1))
    rest = F.regexp_extract(url, r"^[A-Za-z]+://[^/?#]+([^#]*)", 1)
    # utm params: non-leading ones drop with their '&'; a leading one
    # either hands '?' to the next param or drops the whole query
    s = F.regexp_replace(rest, r"&utm_[A-Za-z0-9_]+=[^&]*", "")
    s = F.regexp_replace(s, r"\?utm_[A-Za-z0-9_]+=[^&]*&", "?")
    s = F.regexp_replace(s, r"\?utm_[A-Za-z0-9_]+=[^&]*$", "")
    path = F.regexp_extract(s, r"^([^?]*)", 1)
    query = F.regexp_extract(s, r"(\?.*)$", 1)
    path = F.regexp_replace(path, r"/+$", "")
    path = F.when(path == "", "/").otherwise(path)
    return F.concat(scheme, F.lit("://"), url_host(url), path, query)


CANONICALIZE_URL_SQL = """
    concat(
      lower(regexp_extract({u}, '^([A-Za-z]+)://', 1)), '://',
      regexp_replace(regexp_replace(
        lower(regexp_extract({u}, '^[A-Za-z]+://([^/?#]+)', 1)),
        ':443$', ''), '^www\\.', ''),
      CASE WHEN regexp_replace(
             regexp_extract(
               regexp_replace(regexp_replace(regexp_replace(
                 regexp_extract({u}, '^[A-Za-z]+://[^/?#]+([^#]*)', 1),
                 '&utm_[A-Za-z0-9_]+=[^&]*', '', 'g'),
                 '\\?utm_[A-Za-z0-9_]+=[^&]*&', '?'),
                 '\\?utm_[A-Za-z0-9_]+=[^&]*$', ''),
               '^([^?]*)', 1),
             '/+$', '') = ''
           THEN '/'
           ELSE regexp_replace(
             regexp_extract(
               regexp_replace(regexp_replace(regexp_replace(
                 regexp_extract({u}, '^[A-Za-z]+://[^/?#]+([^#]*)', 1),
                 '&utm_[A-Za-z0-9_]+=[^&]*', '', 'g'),
                 '\\?utm_[A-Za-z0-9_]+=[^&]*&', '?'),
                 '\\?utm_[A-Za-z0-9_]+=[^&]*$', ''),
               '^([^?]*)', 1),
             '/+$', '') END,
      regexp_extract(
        regexp_replace(regexp_replace(regexp_replace(
          regexp_extract({u}, '^[A-Za-z]+://[^/?#]+([^#]*)', 1),
          '&utm_[A-Za-z0-9_]+=[^&]*', '', 'g'),
          '\\?utm_[A-Za-z0-9_]+=[^&]*&', '?'),
          '\\?utm_[A-Za-z0-9_]+=[^&]*$', ''),
        '(\\?.*)$', 1)
    )
"""  # DuckDB mirror of canonicalize_url ({u} = the url expression);
#      RE2 'g' flag matches Spark's replace-all default
