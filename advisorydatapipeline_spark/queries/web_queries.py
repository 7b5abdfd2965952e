"""Web-corpus stage-1 queries with DuckDB oracles (north-star ops,
r11): HTML main-text extraction, per-block link-density boilerplate
classification, and the RFC 9309 robots longest-match gate composing
the URL canonicalization fixture.

The documents table has no HTML/URL columns, so fixtures synthesize
them deterministically from doc_id + text (the established
replayable-fixture pattern); every oracle replays the exact
extraction chain (same regex subset, same entity decode order, same
prefix-match tie-break), so values are checked, not just row counts.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from advisorydatapipeline_spark.operators.html import (
    HTML_ENTITIES,
    anchor_texts,
    collapse_ws,
    decode_entities,
    html_to_text,
    link_chars,
    strip_tags,
)
from advisorydatapipeline_spark.queries.helpers import doc_payloads, load
from advisorydatapipeline_spark.registry import query


def _html_fixture_sql(cast: str) -> str:
    """Messy-HTML synthesis, dialect-parameterized. The script body
    contains a bare '<' — if script stripping fails, tag stripping
    mangles the output and the gate catches it."""
    more = " || ".join(
        f"(CASE WHEN doc_id % 3 >= {i} THEN"
        f" '<a href=\"/x{i}\">More {i}</a> ' ELSE '' END)"
        for i in range(3)
    )
    return (
        f"'<html><head><title>Doc ' || CAST(doc_id AS {cast}) || "
        "'</title><style>p{color:red}</style>"
        "<script>var x=1 < 2;</script></head>"
        '<body><nav><a href="/">Home</a> <a href="/about">About</a></nav>'
        "<p>A &amp; B &lt;ok&gt; ' || text || '</p>"
        f"<div>' || {more} || '</div>"
        "<footer>Contact &quot;us&quot; &#39;now&#39;</footer>"
        "</body></html>'"
    )


def _duck_strip(expr: str) -> str:
    """DuckDB twin of operators/html.strip_script_style + strip_tags."""
    out = f"regexp_replace({expr}, '<script[^>]*>.*?</script>', ' ', 'g')"
    out = f"regexp_replace({out}, '<style[^>]*>.*?</style>', ' ', 'g')"
    return f"regexp_replace({out}, '<[^>]*>', ' ', 'g')"


def _duck_tags_only(expr: str) -> str:
    return f"regexp_replace({expr}, '<[^>]*>', ' ', 'g')"


def _duck_entities(expr: str) -> str:
    out = expr
    for ent, ch in HTML_ENTITIES:
        lit = ch.replace("'", "''")
        out = f"replace({out}, '{ent}', '{lit}')"
    return out


def _duck_collapse(expr: str) -> str:
    return f"trim(regexp_replace({expr}, '\\s+', ' ', 'g'))"


_DUCK_ANCHORS = "regexp_extract_all({x}, '<a [^>]*>([^<]*)</a>', 1)"
_DUCK_LINK_CHARS = (
    "COALESCE(CAST(list_sum(list_transform("
    + _DUCK_ANCHORS
    + ", t -> length(t))) AS BIGINT), 0)"
)


@query(
    "html_text_extract",
    oracle=f"""
WITH raw AS (
  SELECT doc_id, {_html_fixture_sql('VARCHAR')} AS h FROM documents
)
SELECT doc_id,
       {_duck_collapse(_duck_entities(_duck_strip('h')))} AS main_text,
       CAST(len({_DUCK_ANCHORS.format(x='h')}) AS BIGINT) AS n_links,
       CAST(length({_duck_collapse(_duck_entities(_duck_strip('h')))})
            AS BIGINT) AS text_chars
FROM raw
""",
)
def html_text_extract(spark, sf_dir):
    """WET-style HTML main-text extraction (web-corpus stage 1):
    strip script/style subtrees, strip tags, decode the five
    standard entities (ampersand LAST — the double-decode trap),
    collapse whitespace; plus the total anchor count. The fixture's
    script body contains a bare '<', so a broken script-strip mangles
    every value. Pure built-in regex/replace chain in the shared
    Java-regex/RE2 subset — whole-stage codegen, map-only, fuses
    into the scan at 100 TB (operators/html.py)."""
    raw = load(spark, sf_dir, "documents").selectExpr(
        "doc_id", _html_fixture_sql("STRING") + " AS h"
    )
    text = html_to_text(F.col("h"))
    return raw.select(
        "doc_id",
        text.alias("main_text"),
        F.size(anchor_texts(F.col("h"))).cast("long").alias("n_links"),
        F.length(text).cast("long").alias("text_chars"),
    )


_BP_PPM = 300_000  # link-density boilerplate threshold


@query(
    "html_block_link_density",
    oracle=f"""
WITH raw AS (
  SELECT doc_id, {_html_fixture_sql('VARCHAR')} AS h FROM documents
),
body AS (
  SELECT doc_id,
         string_split_regex(regexp_extract(h, '<body>(.*)</body>', 1),
                            '</nav>|</p>|</div>|</footer>') AS blocks
  FROM raw
),
blk AS (
  SELECT doc_id, CAST(i - 1 AS BIGINT) AS block_idx,
         blocks[i] AS rawb
  FROM body, unnest(generate_series(1, len(blocks))) AS u(i)
),
m AS (
  SELECT doc_id, block_idx,
         {_duck_collapse(_duck_entities(_duck_tags_only('rawb')))}
           AS block_text,
         {_DUCK_LINK_CHARS.format(x='rawb')} AS link_chars
  FROM blk
)
SELECT doc_id, block_idx, block_text,
       CAST(length(block_text) AS BIGINT) AS text_chars,
       link_chars,
       CAST(link_chars * 1000000 // GREATEST(length(block_text), 1)
            AS BIGINT) AS density_ppm,
       link_chars * 1000000 // GREATEST(length(block_text), 1)
         >= {_BP_PPM} AS is_boilerplate
FROM m
WHERE block_text <> ''
""",
)
def html_block_link_density(spark, sf_dir):
    """Per-block link-density boilerplate classification
    (Kohlschütter-style, reduced to its SQL-expressible core): split
    the body on block-closing tags, extract each block's text and its
    anchor-text character count, and flag blocks whose link density
    clears {0.3} — nav and link-farm divs classify as boilerplate,
    the content paragraph survives. The ppm ratio is integer
    arithmetic, so the threshold decision is engine-exact.

    Scale: map-side explode of ~4 blocks/doc, no shuffle; block rows
    carry text only (the HTML never leaves the projection)."""
    raw = load(spark, sf_dir, "documents").selectExpr(
        "doc_id", _html_fixture_sql("STRING") + " AS h"
    )
    body = raw.select(
        "doc_id",
        F.split(
            F.regexp_extract("h", "<body>(.*)</body>", 1),
            "</nav>|</p>|</div>|</footer>",
        ).alias("blocks"),
    )
    blk = body.select(
        "doc_id",
        F.posexplode("blocks").alias("block_idx", "rawb"),
    ).select(
        "doc_id",
        F.col("block_idx").cast("long").alias("block_idx"),
        "rawb",
    )
    m = blk.select(
        "doc_id",
        "block_idx",
        collapse_ws(decode_entities(strip_tags(F.col("rawb")))).alias(
            "block_text"
        ),
        link_chars(F.col("rawb")).alias("link_chars"),
    )
    density = F.expr(
        "link_chars * 1000000 DIV GREATEST(length(block_text), 1)"
    )
    return m.filter(F.col("block_text") != "").select(
        "doc_id",
        "block_idx",
        "block_text",
        F.length("block_text").cast("long").alias("text_chars"),
        "link_chars",
        density.cast("long").alias("density_ppm"),
        (density >= _BP_PPM).alias("is_boilerplate"),
    )


# RFC 9309 rule set applied to every host (a shared robots policy):
# literal path prefixes, longest match wins, allow wins length ties.
# /cat1/page1 is deliberately a PREFIX of /cat1/page15 etc. — the
# longer allow overrides the /cat1/ disallow for every page starting
# with 'page1', which is exactly RFC prefix semantics.
ROBOTS_RULES = (
    (False, "/cat1/"),
    (True, "/cat1/page1"),
    (False, "/cat3/page2"),
    (False, "/cat6/"),
    (True, "/cat6/"),  # same length as the disallow: allow wins ties
)


def _robots_values_sql() -> str:
    return ", ".join(
        f"({str(a).upper()}, '{p}')" for a, p in ROBOTS_RULES
    )


def _robots_oracle() -> str:
    from advisorydatapipeline_spark.queries.curation_queries import (
        _duck_canon_ctes,
        _url_fixture_sql,
    )

    return f"""
WITH raw AS (
  SELECT doc_id, {_url_fixture_sql('//', 'VARCHAR')} AS url FROM documents
),
{_duck_canon_ctes()[1:]},
rules(allow, prefix) AS (VALUES {_robots_values_sql()}),
p AS (
  SELECT doc_id,
         CASE WHEN instr(regexp_replace(canonical_url,
                 '^[a-z]+://[^/]+', ''), '?') > 0
              THEN substr(regexp_replace(canonical_url,
                 '^[a-z]+://[^/]+', ''), 1,
                 instr(regexp_replace(canonical_url,
                 '^[a-z]+://[^/]+', ''), '?') - 1)
              ELSE regexp_replace(canonical_url,
                 '^[a-z]+://[^/]+', '') END AS path
  FROM canon
),
j AS (
  SELECT p.doc_id, p.path, r.allow, r.prefix,
         row_number() OVER (PARTITION BY p.doc_id
           ORDER BY length(r.prefix) DESC, r.allow DESC, r.prefix)
           AS rn
  FROM p LEFT JOIN rules r
    ON substr(p.path, 1, length(r.prefix)) = r.prefix
)
SELECT doc_id, path,
       prefix AS rule_prefix,
       CAST(COALESCE(length(prefix), 0) AS BIGINT) AS rule_len,
       COALESCE(allow, TRUE) AS allowed
FROM j WHERE rn = 1
"""


@query("robots_txt_gate", oracle=_robots_oracle())
def robots_txt_gate(spark, sf_dir):
    """RFC 9309 robots-exclusion verdict per document URL, composing
    the canonical-URL fixture: literal path-prefix rules (the
    overwhelmingly common rule shape; * and $ wildcards are out of
    scope, documented), LONGEST matching prefix wins, and an Allow
    beats a Disallow of equal length — both tie-breaks straight from
    the RFC, both exercised by the rule set (/cat1/page1 allows a
    prefix-family back in under the /cat1/ disallow; /cat6/ has an
    equal-length allow+disallow pair). Unmatched paths default to
    allowed with rule_len 0.

    Scale (100 TB): the rule table is tiny and broadcast; the match
    is a map-side theta join (prefix compare) + one per-doc
    row_number on the handful of matched rules — the corpus never
    shuffles more than (doc_id, path, rule) rows."""
    from advisorydatapipeline_spark.operators.curation import (
        canonicalize_urls,
    )
    from advisorydatapipeline_spark.queries.curation_queries import (
        _url_fixture_sql,
    )
    from pyspark.sql import Window

    raw = load(spark, sf_dir, "documents").selectExpr(
        "doc_id", _url_fixture_sql("DIV", "STRING") + " AS url"
    )
    canon = canonicalize_urls(raw).select("doc_id", "canonical_url")
    path0 = F.regexp_replace("canonical_url", "^[a-z]+://[^/]+", "")
    p = canon.select(
        "doc_id",
        F.when(
            F.instr(path0, "?") > 0,
            F.expr(
                "substr(regexp_replace(canonical_url,"
                " '^[a-z]+://[^/]+', ''), 1,"
                " instr(regexp_replace(canonical_url,"
                " '^[a-z]+://[^/]+', ''), '?') - 1)"
            ),
        )
        .otherwise(path0)
        .alias("path"),
    )
    rules = spark.createDataFrame(
        list(ROBOTS_RULES), "allow boolean, prefix string"
    )
    j = p.join(
        F.broadcast(rules),
        F.expr("substr(path, 1, length(prefix)) = prefix"),
        "left",
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.length("prefix").desc(), F.col("allow").desc(), F.col("prefix")
    )
    return (
        j.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            "path",
            F.col("prefix").alias("rule_prefix"),
            F.coalesce(F.length("prefix").cast("long"), F.lit(0)).alias(
                "rule_len"
            ),
            F.coalesce(F.col("allow"), F.lit(True)).alias("allowed"),
        )
    )


# --- corpus datasheet (r11) ---------------------------------------------

_SHORT_TOKENS = 20  # docs under this token count flag as short


@query(
    "corpus_datasheet",
    oracle=f"""
WITH t AS (
  SELECT doc_id, source, lang,
         CAST(len(list_filter(string_split_regex(lower(text),
              '[^a-z0-9]+'), x -> x <> '')) AS BIGINT) AS n_tokens,
         md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
           AS content_key
  FROM documents
),
k AS (
  SELECT *, min(doc_id) OVER (PARTITION BY content_key) AS keep_id
  FROM t
)
SELECT source, lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       CAST(count(*) FILTER (doc_id <> keep_id) AS BIGINT)
         AS n_exact_dup_docs,
       CAST(count(*) FILTER (doc_id <> keep_id) * 1000000 // count(*)
            AS BIGINT) AS dup_ppm,
       CAST(count(*) FILTER (n_tokens < {_SHORT_TOKENS}) AS BIGINT)
         AS n_short_docs,
       CAST(count(*) FILTER (n_tokens < {_SHORT_TOKENS})
            * 1000000 // count(*) AS BIGINT) AS short_ppm
FROM k
GROUP BY source, lang
""",
)
def corpus_datasheet(spark, sf_dir):
    """The per-(source, lang) corpus DATASHEET a curation run
    publishes with its output (Datasheets-for-Datasets style, reduced
    to the machine-checkable rows): volume (docs, tokens), exact-dup
    rate under the dedup_exact content key (same md5-of-normalized-
    text definition, so the datasheet can never disagree with the
    dedup stage), and short-doc rate — the three numbers every
    mixture decision starts from. All ratios in integer ppm.

    Scale: one window on the content key (the dedup_exact shuffle,
    reusable if both run), one partial-agg rollup on (source, lang);
    the text column never moves past the tokenize projection."""
    from pyspark.sql import Window

    from advisorydatapipeline_spark.functions.text import tokens

    t = load(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        "lang",
        F.size(tokens("text")).cast("long").alias("n_tokens"),
        F.md5(
            F.lower(F.trim(F.regexp_replace("text", "\\s+", " ")))
        ).alias("content_key"),
    )
    k = t.withColumn(
        "keep_id",
        F.min("doc_id").over(Window.partitionBy("content_key")),
    )
    dup = (F.col("doc_id") != F.col("keep_id")).cast("long")
    short = (F.col("n_tokens") < _SHORT_TOKENS).cast("long")
    return k.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.sum(dup).cast("long").alias("n_exact_dup_docs"),
        F.expr(
            "CAST(sum(CAST(doc_id <> keep_id AS BIGINT)) * 1000000"
            " DIV count(1) AS BIGINT)"
        ).alias("dup_ppm"),
        F.sum(short).cast("long").alias("n_short_docs"),
        F.expr(
            f"CAST(sum(CAST(n_tokens < {_SHORT_TOKENS} AS BIGINT))"
            " * 1000000 DIV count(1) AS BIGINT)"
        ).alias("short_ppm"),
    )


# --- multiclass PII detection + scrub (r11) -----------------------------

# 8 syntactically plausible 16-digit PANs: first 4 pass Luhn, last 4
# fail by one check-digit — the detector must separate them by REAL
# mod-10 arithmetic, not by list membership
PII_CARDS = (
    "4111111111111111",
    "4242424242424242",
    "5500005555555559",
    "2223003122003222",
    "4111111111111112",
    "4242424242424243",
    "5500005555555550",
    "2223003122003229",
)


def _pii_cards_case(idiv: str) -> str:
    arms = " ".join(
        f"WHEN {i} THEN '{c}'" for i, c in enumerate(PII_CARDS)
    )
    return f"CASE (doc_id {idiv} 2) % 8 {arms} END"


def _pii_plants(idiv: str, cast: str, cc_token: bool) -> str:
    """The planted tail; with cc_token the card slot holds '<CC>' for
    Luhn-valid plants (the oracle builds the scrubbed string
    directly — plant replay, codec-arm style)."""
    card = _pii_cards_case(idiv)
    if cc_token:
        card = (
            f"CASE WHEN (doc_id {idiv} 2) % 8 < 4 THEN '<CC>'"
            f" ELSE {card} END"
        )
    return (
        f"(CASE WHEN doc_id % 4 = 0 THEN ' call {{P}}1-555-' ||"
        f" lpad(CAST(doc_id % 10000 AS {cast}), 4, '0') ELSE '' END)"
        f" || (CASE WHEN doc_id % 5 = 0 THEN ' from 10.' ||"
        f" CAST(doc_id % 256 AS {cast}) || '.0.1' ELSE '' END)"
        f" || (CASE WHEN doc_id % 2 = 0 THEN ' card ' || {card}"
        f" ELSE '' END)"
        f" || (CASE WHEN doc_id % 3 = 0 THEN ' mail user' ||"
        f" CAST(doc_id AS {cast}) || '@example.com' ELSE '' END)"
    ).replace("{P}", "+")


_PII_ORACLE_TEMPLATE = f"""
WITH raw AS (
  SELECT doc_id, text || {_pii_plants('//', 'VARCHAR', False)} AS t,
         text || (
           SELECT x FROM (SELECT
             replace(regexp_replace(regexp_replace(
               {_pii_plants('//', 'VARCHAR', True)},
               '@PHONE_RE@', '<PHONE>', 'g'),
               '@IP_RE@', '<IP>', 'g'),
               'user' || CAST(doc_id AS VARCHAR) || '@example.com',
               '<EMAIL>') AS x)
         ) AS scrubbed
  FROM documents
)
SELECT doc_id,
       CAST(CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END AS BIGINT)
         AS n_phones,
       CAST(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS BIGINT)
         AS n_ips,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS BIGINT)
         AS n_cards,
       CAST(CASE WHEN doc_id % 2 = 0 AND (doc_id // 2) % 8 < 4
            THEN 1 ELSE 0 END AS BIGINT) AS n_cards_valid,
       CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS BIGINT)
         AS n_emails,
       scrubbed
FROM raw
"""


def _pii_oracle() -> str:
    from advisorydatapipeline_spark.operators.html import IP_RE, PHONE_RE

    return _PII_ORACLE_TEMPLATE.replace("@PHONE_RE@", PHONE_RE).replace(
        "@IP_RE@", IP_RE
    )


@query("pii_multiclass_scrub", oracle=_pii_oracle())
def pii_multiclass_scrub(spark, sf_dir):
    """Multiclass PII detection + scrub (pii_scrub is email-only;
    real pipelines also scrub phones, IPs, and payment cards): REAL
    regex detection per class over the planted corpus, REAL Luhn
    mod-10 validation of 16-digit candidates as pure expression
    arithmetic (operators/html.luhn_valid) — the planted set holds 4
    Luhn-valid and 4 off-by-one-check-digit PANs, so membership
    can't fake the check — then class-token scrubbing (valid cards
    only: an invalid PAN is not payment PII). The oracle replays the
    plant (codec-arm pattern: the pytest pins the general Luhn
    algorithm; the gate pins end-to-end counts and scrubbed bytes).

    Scale: map-only codegen chain like the other scrub/extract
    stages; the only non-regex work is a 16-step integer fold per
    card candidate."""
    from advisorydatapipeline_spark.operators.curation import EMAIL_RE
    from advisorydatapipeline_spark.operators.html import (
        CARD_RE,
        IP_RE,
        PHONE_RE,
        luhn_valid,
    )

    raw = load(spark, sf_dir, "documents").selectExpr(
        "doc_id",
        "text || " + _pii_plants("DIV", "STRING", False) + " AS t",
    )
    cards = F.regexp_extract_all(F.col("t"), F.lit(CARD_RE), F.lit(0))
    valid_cards = F.filter(cards, lambda c: luhn_valid(c))
    scrub_cc = F.when(
        F.size(valid_cards) > 0,
        F.replace(
            F.col("t"), F.element_at(valid_cards, 1), F.lit("<CC>")
        ),
    ).otherwise(F.col("t"))
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(scrub_cc, PHONE_RE, "<PHONE>"),
            IP_RE,
            "<IP>",
        ),
        EMAIL_RE,
        "<EMAIL>",
    )
    return raw.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("t"), F.lit(PHONE_RE), F.lit(0)))
        .cast("long")
        .alias("n_phones"),
        F.size(F.regexp_extract_all(F.col("t"), F.lit(IP_RE), F.lit(0)))
        .cast("long")
        .alias("n_ips"),
        F.size(cards).cast("long").alias("n_cards"),
        F.size(valid_cards).cast("long").alias("n_cards_valid"),
        F.size(F.regexp_extract_all(F.col("t"), F.lit(EMAIL_RE), F.lit(0)))
        .cast("long")
        .alias("n_emails"),
        scrubbed.alias("scrubbed"),
    )


# --- C4-style line-level filters + cross-corpus line dedup (r11) --------

_LINE_WORDS = 10  # fixture line width (tokens)
_MIN_LINE_WORDS = 5  # C4: drop lines under 5 words
_DUCK_TOK = (
    "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),"
    " x -> x <> '')"
)

# the corpus text is a flat word stream, so lines are synthesized as
# fixed 10-token windows and terminal punctuation is planted on
# (doc_id + line_idx) % 3 != 0 — both C4 rules (word count, terminal
# punctuation) fire on real, replayable inputs
_DUCK_LINES = f"""
toks AS (
  SELECT doc_id, {_DUCK_TOK} AS ts FROM documents
),
ln AS (
  SELECT doc_id, CAST(i AS BIGINT) AS line_idx,
         array_to_string(ts[(i - 1) * {_LINE_WORDS} + 1 :
                            i * {_LINE_WORDS}], ' ')
           || CASE WHEN (doc_id + i) % 3 <> 0 THEN '.' ELSE '' END
           AS line_text,
         CAST(LEAST({_LINE_WORDS},
              len(ts) - (i - 1) * {_LINE_WORDS}) AS BIGINT) AS word_count
  FROM toks,
       unnest(generate_series(1,
         CAST(ceil(len(ts) / {_LINE_WORDS}.0) AS BIGINT))) AS u(i)
  WHERE len(ts) > 0
)"""


@query(
    "c4_line_filters",
    oracle=f"""
WITH {_DUCK_LINES}
SELECT doc_id, line_idx, line_text, word_count,
       word_count >= {_MIN_LINE_WORDS}
         AND line_text LIKE '%.' AS kept
FROM ln
""",
)
def c4_line_filters(spark, sf_dir):
    """C4's line-level quality rules (Raffel et al. 2020 §2.2),
    per-line verdict rows: a line survives when it has at least
    {5} words AND ends in terminal punctuation. Lines are
    synthesized as fixed {10}-token windows with punctuation planted
    by (doc_id + line_idx) arithmetic, so both rules fire and the
    oracle replays every verdict. Map-side explode, no shuffle —
    line filtering fuses into the scan at 100 TB."""
    from advisorydatapipeline_spark.functions.text import tokens

    w = _LINE_WORDS
    toks = load(spark, sf_dir, "documents").select(
        "doc_id", tokens("text").alias("ts")
    )
    lines = (
        toks.filter(F.size("ts") > 0)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(
                        F.lit(1),
                        F.ceil(F.size("ts") / F.lit(float(w))).cast("int"),
                    ),
                    lambda i: F.struct(
                        i.cast("long").alias("line_idx"),
                        F.concat(
                            F.array_join(
                                F.slice(
                                    "ts", ((i - 1) * w + 1).cast("int"), w
                                ),
                                " ",
                            ),
                            F.when(
                                (F.col("doc_id") + i) % 3 != 0, F.lit(".")
                            ).otherwise(F.lit("")),
                        ).alias("line_text"),
                        F.least(
                            F.lit(w), F.size("ts") - (i - 1) * w
                        ).cast("long").alias("word_count"),
                    ),
                )
            ).alias("l"),
        )
        .select("doc_id", "l.line_idx", "l.line_text", "l.word_count")
    )
    return lines.select(
        "doc_id",
        "line_idx",
        "line_text",
        "word_count",
        (
            (F.col("word_count") >= _MIN_LINE_WORDS)
            & F.col("line_text").endswith(".")
        ).alias("kept"),
    )


@query(
    "line_global_dedup",
    oracle=f"""
WITH {_DUCK_LINES},
kept AS (
  SELECT doc_id, line_idx, line_text FROM ln
  WHERE word_count >= {_MIN_LINE_WORDS} AND line_text LIKE '%.'
),
k AS (
  SELECT *,
         min(doc_id * 1000000 + line_idx)
           OVER (PARTITION BY md5(line_text)) AS keeper_key
  FROM kept
)
SELECT doc_id, line_idx, md5(line_text) AS line_key,
       CAST(keeper_key // 1000000 AS BIGINT) AS keeper_doc_id,
       CAST(keeper_key % 1000000 AS BIGINT) AS keeper_line_idx,
       doc_id * 1000000 + line_idx <> keeper_key AS is_dup
FROM k
""",
)
def line_global_dedup(spark, sf_dir):
    """CROSS-corpus exact line dedup over the C4-kept lines — the
    MassiveText/C4 stage that removes boilerplate sentences repeated
    across documents (cookie banners, licence footers): every kept
    line hashes, the minimum (doc_id, line_idx) per hash is the
    keeper, every other occurrence flags is_dup. The keeper choice
    rides the SAME shuffle as the hash partition (window min on a
    packed doc*1e6+idx key — no second pass, no join back).

    Scale: one shuffle keyed on the line hash (high cardinality);
    only (doc, idx, hash) triples move — the line text itself stays
    in the map stage. doc_id packing bounds: valid while line_idx <
    1e6, i.e. docs under 10M tokens."""
    from pyspark.sql import Window

    lines = c4_line_filters(spark, sf_dir).filter(F.col("kept"))
    packed = F.col("doc_id") * 1000000 + F.col("line_idx")
    k = lines.select(
        "doc_id",
        "line_idx",
        F.md5("line_text").alias("line_key"),
        F.min(packed)
        .over(Window.partitionBy(F.md5("line_text")))
        .alias("keeper_key"),
    )
    return k.select(
        "doc_id",
        "line_idx",
        "line_key",
        F.expr("CAST(keeper_key DIV 1000000 AS BIGINT)").alias(
            "keeper_doc_id"
        ),
        F.expr("CAST(keeper_key % 1000000 AS BIGINT)").alias(
            "keeper_line_idx"
        ),
        (packed != F.col("keeper_key")).alias("is_dup"),
    )


# --- crawl-frontier politeness scheduling (r11) ---------------------------


def _politeness_oracle() -> str:
    from advisorydatapipeline_spark.queries.curation_queries import (
        _duck_canon_ctes,
        _url_fixture_sql,
    )

    return f"""
WITH raw AS (
  SELECT doc_id, {_url_fixture_sql('//', 'VARCHAR')} AS url FROM documents
),
{_duck_canon_ctes()[1:]},
sched AS (
  SELECT doc_id, host,
         CAST(1 + length(host) % 5 AS BIGINT) AS delay_s,
         row_number() OVER (PARTITION BY host ORDER BY
           ((doc_id % 2147483648) * 2654435761) % 2147483648, doc_id)
           AS host_rank,
         count(*) OVER (PARTITION BY host) AS queue_depth
  FROM canon
)
SELECT doc_id, host, delay_s,
       CAST(host_rank AS BIGINT) AS host_rank,
       CAST((host_rank - 1) * delay_s AS BIGINT) AS fetch_slot_s,
       CAST(queue_depth AS BIGINT) AS queue_depth,
       CAST((queue_depth - 1) * delay_s AS BIGINT) AS host_makespan_s
FROM sched
"""


@query("crawl_politeness_plan", oracle=_politeness_oracle())
def crawl_politeness_plan(spark, sf_dir):
    """Mercator-style crawl-frontier politeness plan (Heydon & Najork
    1999: one FIFO queue per host, next fetch no earlier than
    crawl-delay after the previous) over the canonical-URL fixture:
    per-host priority order (the house 2^31 multiplicative mix — a
    bijection mod 2^31, so ranks are tie-free), host crawl-delay from
    deterministic host arithmetic (stand-in for a robots Crawl-delay
    lookup; robots_txt_gate owns the rule semantics), and the
    resulting fetch slot ``(rank-1) * delay`` plus per-host queue
    depth / makespan — the numbers a frontier shards workers by.

    The mix reduces doc_id mod 2^31 BEFORE multiplying (the
    epoch_shard_plan overflow lesson): intermediates stay < 2^63 for
    any BIGINT doc_id.

    Scale (100 TB): canonicalization is map-only; the only shuffle is
    the window partition on host — exactly the partitioning a real
    frontier needs anyway (all of a host's URLs on one worker).
    Skewed giant hosts are the known hazard; the queue_depth column
    is the detector, and a salted two-level rank (epoch_shard_plan's
    pattern) is the documented remediation."""
    from pyspark.sql import Window

    from advisorydatapipeline_spark.operators.curation import (
        canonicalize_urls,
    )
    from advisorydatapipeline_spark.queries.curation_queries import (
        _url_fixture_sql,
    )

    raw = load(spark, sf_dir, "documents").selectExpr(
        "doc_id", _url_fixture_sql("DIV", "STRING") + " AS url"
    )
    canon = canonicalize_urls(raw).select("doc_id", "host")
    pri = F.expr("((doc_id % 2147483648) * 2654435761) % 2147483648")
    delay = F.expr("CAST(1 + length(host) % 5 AS BIGINT)")
    w = Window.partitionBy("host").orderBy(pri, F.col("doc_id"))
    wall = Window.partitionBy("host")
    s = canon.select(
        "doc_id",
        "host",
        delay.alias("delay_s"),
        F.row_number().over(w).cast("long").alias("host_rank"),
        F.count(F.lit(1)).over(wall).cast("long").alias("queue_depth"),
    )
    return s.select(
        "doc_id",
        "host",
        "delay_s",
        "host_rank",
        ((F.col("host_rank") - 1) * F.col("delay_s"))
        .cast("long")
        .alias("fetch_slot_s"),
        "queue_depth",
        ((F.col("queue_depth") - 1) * F.col("delay_s"))
        .cast("long")
        .alias("host_makespan_s"),
    )


# --- secret / credential detection (r11) ----------------------------------

# candidate charset == scan alphabet: every char of a matched token is
# counted by the histogram, so sum(cnts) == length(tok) exactly
SECRET_ALPHABET = (
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
    "0123456789+/=_-"
)
SECRET_CAND_RE = "[A-Za-z0-9+/=_-]{20,}"
AWS_KEY_RE = "^AKIA[A-Z0-9]{16}$"
# Renyi-2 collision gate: secret iff collision prob <= 0.2 (effective
# alphabet >= 5) AND >= 8 distinct chars; 'ababab...' (coll 0.5) and
# 'xxxx...' (coll 1.0) fail, md5-hex (coll ~0.09, ~14 distinct) passes
SECRET_COLL_PPM = 200_000
SECRET_MIN_DISTINCT = 8


def _secret_plants(cast: str) -> str:
    """Planted credentials, dialect-parameterized: an AWS-shaped key
    (shape rule), a 32-hex high-entropy blob (entropy rule), and a
    LOW-entropy shape lookalike that only a real character-collision
    computation rejects — membership lists can't fake the split."""
    return (
        "(CASE WHEN doc_id % 3 = 0 THEN ' key AKIA' ||"
        f" upper(substr(md5(CAST(doc_id AS {cast})), 1, 16))"
        " ELSE '' END)"
        " || (CASE WHEN doc_id % 4 = 0 THEN ' tok ' ||"
        f" md5(CAST(doc_id + 7 AS {cast})) ELSE '' END)"
        " || (CASE WHEN doc_id % 5 = 0 THEN ' pad ' ||"
        " repeat('ab', 14) ELSE '' END)"
    )


def _secret_oracle() -> str:
    alph = ", ".join(f"'{c}'" for c in SECRET_ALPHABET)
    cnt = "(length(tok) - length(replace(tok, ch, '')))"
    coll = (
        f"CAST(floor(list_sum(list_transform([{alph}],"
        f" ch -> CAST({cnt} * {cnt} AS BIGINT))) * 1000000.0"
        " / (length(tok) * length(tok))) AS BIGINT)"
    )
    dx = (
        f"CAST(len(list_filter([{alph}],"
        " ch -> contains(tok, ch))) AS BIGINT)"
    )
    aws = f"regexp_matches(tok, '{AWS_KEY_RE}')"
    return f"""
WITH raw AS (
  SELECT doc_id, text || {_secret_plants('VARCHAR')} AS t FROM documents
),
c AS (
  SELECT doc_id,
         regexp_extract_all(t, '{SECRET_CAND_RE}') AS cands
  FROM raw
),
s AS (
  SELECT doc_id, cands,
         list_transform(cands, tok -> struct_pack(
           tok := tok, coll := {coll}, dx := {dx}, aws := {aws}
         )) AS st
  FROM c
),
v AS (
  SELECT doc_id, cands, st,
         list_filter(st, x -> x.aws OR (x.dx >= {SECRET_MIN_DISTINCT}
           AND x.coll <= {SECRET_COLL_PPM})) AS sec
  FROM s
)
SELECT doc_id,
       CAST(len(cands) AS BIGINT) AS n_candidates,
       CAST(len(sec) AS BIGINT) AS n_secrets,
       CAST(len(list_filter(st, x -> x.aws)) AS BIGINT) AS n_shape_keys,
       list_min(list_transform(st, x -> x.coll)) AS min_coll_ppm,
       COALESCE(array_to_string(
         list_sort(list_transform(sec, x -> x.tok)), ','), '')
         AS secrets_csv
FROM v
"""


@query("secret_entropy_scrub", oracle=_secret_oracle())
def secret_entropy_scrub(spark, sf_dir):
    """Secret/credential detection over document text — the
    memorization-risk scrub stage every LLM corpus runs next to PII
    (detect-secrets/truffleHog style, reduced to the deterministic
    core): candidate tokens (>= 20 chars of the key alphabet) are
    scored by a REAL Renyi-2 collision probability — per-character
    histogram -> sum of squared counts over length squared, integer
    ppm — plus a distinct-character floor and an AWS-AKIA shape rule.
    The planted corpus holds a shape key, a 32-hex high-entropy blob,
    and an equal-shape LOW-entropy lookalike ('abab...'), so the
    verdict split is decided by the collision arithmetic, not by
    membership. Renyi-2 instead of Shannon keeps every step BIGINT-
    exact (no log calls to drift between engines); the same rule
    runs in the DuckDB oracle over ALL candidates — natural-text
    candidates are scored identically on both sides, so the gate
    checks the detector, not a plant replay.

    Scale (100 TB): map-only — candidates, histograms (a 68-wide
    transform over a broadcast-literal alphabet), verdicts, and the
    CSV all fuse into the scan projection; zero shuffle, nothing but
    5 scalar columns and one short string leave the operator."""
    alph = F.array(*[F.lit(c) for c in SECRET_ALPHABET])
    raw = load(spark, sf_dir, "documents").selectExpr(
        "doc_id", "text || " + _secret_plants("STRING") + " AS t"
    )
    cands = F.regexp_extract_all(
        F.col("t"), F.lit(SECRET_CAND_RE), F.lit(0)
    )

    def tok_stats(tok):
        n = F.length(tok).cast("long")
        cnts = F.transform(
            alph,
            lambda ch: (
                F.length(tok) - F.length(F.replace(tok, ch))
            ).cast("long"),
        )
        sq = F.aggregate(
            cnts, F.lit(0).cast("long"), lambda a, v: a + v * v
        )
        coll = F.floor(sq * F.lit(1000000) / (n * n)).cast("long")
        dx = (
            F.size(F.filter(alph, lambda ch: tok.contains(ch)))
            .cast("long")
        )
        return F.struct(
            tok.alias("tok"),
            coll.alias("coll"),
            dx.alias("dx"),
            tok.rlike(AWS_KEY_RE).alias("aws"),
        )

    st = F.transform(cands, tok_stats)
    sec = F.filter(
        st,
        lambda x: x["aws"]
        | (
            (x["dx"] >= SECRET_MIN_DISTINCT)
            & (x["coll"] <= SECRET_COLL_PPM)
        ),
    )
    return raw.select(
        "doc_id",
        F.size(cands).cast("long").alias("n_candidates"),
        F.size(sec).cast("long").alias("n_secrets"),
        F.size(F.filter(st, lambda x: x["aws"]))
        .cast("long")
        .alias("n_shape_keys"),
        F.array_min(F.transform(st, lambda x: x["coll"])).alias(
            "min_coll_ppm"
        ),
        F.concat_ws(
            ",", F.array_sort(F.transform(sec, lambda x: x["tok"]))
        ).alias("secrets_csv"),
    )


# --- WARC container walk (r11) --------------------------------------------


@query(
    "warc_record_stats",
    oracle=f"""
SELECT doc_id AS media_id,
       CASE WHEN doc_id % 9 = 0 THEN 'unknown' ELSE 'warc' END
         AS container,
       CASE WHEN doc_id % 9 = 0 THEN NULL
            ELSE CAST(3 AS INTEGER) END AS n_members,
       CASE WHEN doc_id % 9 = 0 THEN NULL
            ELSE CAST(1 AS INTEGER) END AS n_response,
       CASE WHEN doc_id % 9 = 0 THEN NULL
            ELSE 'https://site' || CAST(doc_id % 50 AS VARCHAR)
                 || '.com/page' || CAST(doc_id AS VARCHAR) END
         AS target_uri,
       CASE WHEN doc_id % 9 = 0 THEN NULL
            ELSE CAST(200 AS INTEGER) END AS http_status,
       CASE WHEN doc_id % 9 = 0 THEN NULL
            ELSE CAST(strlen({_html_fixture_sql('VARCHAR')}) AS BIGINT)
            END AS payload_octets
FROM documents
""",
)
def warc_record_stats(spark, sf_dir):
    """WARC 1.1 container walk over per-record-gzipped captures —
    the Common-Crawl shard layout (operators/warc.py): each document
    becomes a REAL .warc.gz stream (warcinfo + request + response
    members, each its own gzip member, the response wrapping an
    HTTP/1.1 message whose body is the html_text_extract fixture),
    then ``parse_warc_gz`` walks gzip members via the DEFLATE
    end-of-stream (zlib decompressobj.unused_data — no length
    fields), validates the record grammar (version, header lines,
    Content-Length vs actual body, CRLFCRLF terminators), and splits
    the HTTP message. The oracle replays record counts, target URI,
    status, and the response body's BYTE length (strlen /
    octet semantics, not chars) from the same fixture expression.
    Every 9th payload carries a mid-member byte flip — the gzip
    CRC32 / grammar arm must classify it 'unknown'.

    Scale shape: encode and decode are narrow Arrow-batched
    mapInPandas hops over the repartitioned id stream; compressed
    payload bytes never shuffle; 6 scalar columns leave."""
    from advisorydatapipeline_spark.operators.warc import (
        build_warc_gz,
        decode_warc_stats,
    )

    docs = (
        load(spark, sf_dir, "documents")
        .selectExpr(
            "doc_id", _html_fixture_sql("STRING") + " AS html"
        )
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def encode(d: int, html: str) -> bytes:
        b = build_warc_gz(d, html.encode("utf-8"))
        if d % 9 == 0:
            ba = bytearray(b)
            ba[30] ^= 0xFF  # inside the first deflate member
            b = bytes(ba)
        return b

    media = doc_payloads(docs, encode)
    return decode_warc_stats(media)


# --- web-corpus stage-1 capstone (r11) ------------------------------------

WEB_MIN_CHARS = 150  # minimum extracted main-text length to keep


def _web_pipeline_oracle() -> str:
    """Composed VERBATIM from the member entries' oracle strings
    (each a CTE), the quality_gate_pipeline pattern: the capstone can
    never drift from its members — any member-oracle change
    propagates here automatically."""
    from advisorydatapipeline_spark.registry import ORACLES

    u = ORACLES["url_canonical_dedup"].strip()
    r = ORACLES["robots_txt_gate"].strip()
    h = ORACLES["html_text_extract"].strip()
    s = ORACLES["secret_entropy_scrub"].strip()
    p = ORACLES["pii_multiclass_scrub"].strip()
    return f"""
WITH u AS ({u}),
r AS ({r}),
h AS ({h}),
s AS ({s}),
p AS ({p})
SELECT u.doc_id,
       r.allowed AS crawl_ok,
       NOT u.is_dup AS unique_ok,
       h.text_chars >= {WEB_MIN_CHARS} AS length_ok,
       (s.n_shape_keys = 0 AND p.n_cards_valid = 0) AS clean_ok,
       (r.allowed AND NOT u.is_dup
        AND h.text_chars >= {WEB_MIN_CHARS}
        AND s.n_shape_keys = 0 AND p.n_cards_valid = 0) AS selected
FROM u
JOIN r ON r.doc_id = u.doc_id
JOIN h ON h.doc_id = u.doc_id
JOIN s ON s.doc_id = u.doc_id
JOIN p ON p.doc_id = u.doc_id
"""


@query("web_corpus_pipeline", oracle=_web_pipeline_oracle())
def web_corpus_pipeline(spark, sf_dir):
    """Capstone composing the web-corpus stage-1 family the way a
    crawl-to-corpus pipeline chains it: the robots gate (may we keep
    it), canonical-URL dedup (is it the first copy), main-text
    length (is there content after boilerplate stripping), and the
    privacy arm (no shape-verified credentials, no Luhn-valid
    payment cards — the HARD-block classes; entropy-only secret hits
    are advisory in real pipelines because their false-positive rate
    is material, and they stay visible via secret_entropy_scrub) meet
    in a doc_id join; ``selected`` is the conjunction — the document
    set a stage-2 quality gate (quality_gate_pipeline) would then
    score. One plan: five member subtrees over the same documents
    scan; the only wide ops are the members' own shuffles (URL
    window, robots rule join) plus the final doc_id joins. The
    oracle is COMPOSED from the member oracles verbatim, so the
    capstone cannot drift from its parts."""
    from advisorydatapipeline_spark.queries.curation_queries import (
        url_canonical_dedup,
    )

    u = url_canonical_dedup(spark, sf_dir).select("doc_id", "is_dup")
    r = robots_txt_gate(spark, sf_dir).select("doc_id", "allowed")
    h = html_text_extract(spark, sf_dir).select("doc_id", "text_chars")
    s = secret_entropy_scrub(spark, sf_dir).select(
        "doc_id", "n_shape_keys"
    )
    p = pii_multiclass_scrub(spark, sf_dir).select(
        "doc_id", "n_cards_valid"
    )
    j = (
        u.join(r, "doc_id")
        .join(h, "doc_id")
        .join(s, "doc_id")
        .join(p, "doc_id")
    )
    length_ok = F.col("text_chars") >= WEB_MIN_CHARS
    clean_ok = (F.col("n_shape_keys") == 0) & (
        F.col("n_cards_valid") == 0
    )
    return j.select(
        "doc_id",
        F.col("allowed").alias("crawl_ok"),
        (~F.col("is_dup")).alias("unique_ok"),
        length_ok.alias("length_ok"),
        clean_ok.alias("clean_ok"),
        (
            F.col("allowed")
            & ~F.col("is_dup")
            & length_ok
            & clean_ok
        ).alias("selected"),
    )


# --- license compatibility audit (r11) ------------------------------------

# (license, redistributable, derivatives_ok, commercial_ok) — the
# standard open-data matrix rows the release gate needs
LICENSE_MATRIX = (
    ("mit", True, True, True),
    ("apache2", True, True, True),
    ("cc-by", True, True, True),
    ("cc-by-nc", True, True, False),
    ("unknown", False, False, False),
)


def _license_values_sql() -> str:
    return ", ".join(
        f"('{l}', {str(r).upper()}, {str(d).upper()}, {str(c).upper()})"
        for l, r, d, c in LICENSE_MATRIX
    )


@query(
    "license_compat_audit",
    oracle=f"""
WITH lic AS (
  SELECT doc_id, source,
         CASE (length(source) + doc_id % 3) % 5
           WHEN 0 THEN 'mit' WHEN 1 THEN 'apache2'
           WHEN 2 THEN 'cc-by' WHEN 3 THEN 'cc-by-nc'
           ELSE 'unknown' END AS license
  FROM documents
),
m(license, redistributable, derivatives_ok, commercial_ok) AS (
  VALUES {_license_values_sql()}
)
SELECT l.source, m.license,
       CAST(count(*) AS BIGINT) AS n_docs,
       m.redistributable, m.derivatives_ok, m.commercial_ok,
       (m.redistributable AND m.derivatives_ok AND m.commercial_ok)
         AS release_ok,
       CAST(sum(CASE WHEN m.redistributable AND m.derivatives_ok
                AND m.commercial_ok THEN 0 ELSE 1 END) AS BIGINT)
         AS n_blocked
FROM lic l JOIN m ON m.license = l.license
GROUP BY l.source, m.license, m.redistributable, m.derivatives_ok,
         m.commercial_ok
""",
)
def license_compat_audit(spark, sf_dir):
    """License-compatibility audit for a commercial-training release
    — the provenance gate every published corpus runs (Datasheets /
    The Stack's license filtering, reduced to the machine-checkable
    core): each doc carries a license from deterministic fixture
    arithmetic, a tiny broadcast compatibility matrix declares
    redistribution / derivative / commercial rights, and the audit
    rolls up per (source, license) with a release verdict and the
    blocked-doc count. Real pipelines key the matrix by SPDX id;
    the decision arithmetic is exactly this join + conjunction.

    Scale (100 TB): one partial-agg shuffle onto (source, license);
    the matrix is a constant broadcast; no row-level data moves."""
    docs = load(spark, sf_dir, "documents").selectExpr(
        "doc_id",
        "source",
        "CASE (length(source) + doc_id % 3) % 5"
        " WHEN 0 THEN 'mit' WHEN 1 THEN 'apache2'"
        " WHEN 2 THEN 'cc-by' WHEN 3 THEN 'cc-by-nc'"
        " ELSE 'unknown' END AS license",
    )
    m = spark.createDataFrame(
        list(LICENSE_MATRIX),
        "license string, redistributable boolean,"
        " derivatives_ok boolean, commercial_ok boolean",
    )
    release_ok = (
        F.col("redistributable")
        & F.col("derivatives_ok")
        & F.col("commercial_ok")
    )
    return (
        docs.join(F.broadcast(m), "license")
        .groupBy(
            "source",
            "license",
            "redistributable",
            "derivatives_ok",
            "commercial_ok",
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(release_ok, 0).otherwise(1))
            .cast("long")
            .alias("n_blocked"),
        )
        .select(
            "source",
            "license",
            "n_docs",
            "redistributable",
            "derivatives_ok",
            "commercial_ok",
            release_ok.alias("release_ok"),
            "n_blocked",
        )
    )


# --- recrawl scheduling from observed change history (r11) ----------------

REFRESH_MIN_S = 3600  # never schedule faster than hourly
REFRESH_MAX_S = 30 * 86400  # nor slower than monthly


def _refresh_sql(idiv: str) -> str:
    return f"""
WITH hist AS (
  SELECT (event_id % 997) AS page_id,
         epoch_ns(ts) {idiv} 1000000000 AS ts_s,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
           AS changed
  FROM events WHERE ts IS NOT NULL
),
agg AS (
  SELECT page_id,
         CAST(count(*) AS BIGINT) AS n_obs,
         CAST(sum(changed) AS BIGINT) AS n_changes,
         CAST(max(ts_s) - min(ts_s) AS BIGINT) AS span_s,
         CAST(max(ts_s) AS BIGINT) AS last_seen_s
  FROM hist GROUP BY page_id
)
SELECT page_id, n_obs, n_changes, span_s,
       CAST(LEAST(GREATEST(span_s {idiv} (n_changes + 1),
            {REFRESH_MIN_S}), {REFRESH_MAX_S}) AS BIGINT)
         AS refresh_interval_s,
       CAST(last_seen_s + LEAST(GREATEST(span_s {idiv} (n_changes + 1),
            {REFRESH_MIN_S}), {REFRESH_MAX_S}) AS BIGINT)
         AS next_crawl_s,
       CAST(row_number() OVER (
         ORDER BY last_seen_s + LEAST(GREATEST(
           span_s {idiv} (n_changes + 1), {REFRESH_MIN_S}),
           {REFRESH_MAX_S}), page_id) AS BIGINT) AS crawl_rank
FROM agg
"""


@query("crawl_frontier_refresh", oracle=_refresh_sql("//"))
def crawl_frontier_refresh(spark, sf_dir):
    """Recrawl scheduling from observed change history — the
    freshness side of the crawl frontier (Cho & Garcia-Molina's
    change-rate-proportional revisit policy, integer-rational form):
    the event stream doubles as a per-page observation log (the
    streaming_url_dedup page universe, event_id % 997), purchases
    mark content changes, and the estimated change interval
    span / (changes + 1) — Laplace-smoothed so never-changing pages
    don't divide by zero — clamps into [hourly, monthly] to give the
    refresh interval, next crawl time, and a global crawl order.

    Scale (100 TB): one partial-agg shuffle onto the page universe;
    the schedule ranking windows over the (bounded) page table, not
    the observation log. The ORDER BY ends in page_id — tie-free."""
    from advisorydatapipeline_spark.queries.helpers import load as _load

    ev = _load(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    ev.createOrReplaceTempView("_refresh_events")
    sql = _refresh_sql("DIV").replace(
        "epoch_ns(ts) DIV 1000000000", "ts DIV 1000000000"
    ).replace("FROM events WHERE ts IS NOT NULL", "FROM _refresh_events")
    return spark.sql(sql)
