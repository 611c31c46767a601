"""The web-corpus keep/drop + scrub pipeline (north rule).

Input: a table shaped per BASELINE.json `input_hint`:
    url:string, warc_ts:timestamp, html:binary, text:string, lang:string

Per document: language ID (native expressions) → char-trigram
perplexity (numpy pandas-UDF) → Gopher/C4 quality flags (native
expressions) → PII span scan + scrub (vectorized regex kernels) →
keep/drop decision with a drop_reason.  Everything is a pure function
of the row → deterministic at any parallelism.

Scale design:
- one narrow pipeline stage, no shuffle at all for the per-doc part;
- a deterministic ``bucket_id = pmod(xxhash64(url), n_buckets)`` is the
  unit of lineage/metrics/resume (stable across runs, unlike
  spark_partition_id);
- per-domain aggregations go through two-phase salted aggregation
  (``salted_domain_stats``) because web domains are zipfian-skewed;
- metrics per bucket (docs, kept, per-rule hit sums) feed the
  checkpoint-resume anti-join in :mod:`metacrafter_spark.corpus.resume`;
  they are read off the written output, so the pipeline runs once.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional

from pyspark.sql import Column, DataFrame, functions as F

from metacrafter_spark.corpus.langid import UNKNOWN, with_langid
from metacrafter_spark.corpus.perplexity import with_perplexity
from metacrafter_spark.corpus.quality import (
    DEFAULT_THRESHOLDS,
    QualityThresholds,
    with_quality,
)
from metacrafter_spark.corpus.scrub import (
    SpanRule,
    default_scrub_rules,
    total_hits_sql,
    with_scrub,
)
from metacrafter_spark.util import (
    sql_ident, sql_literal, sql_string, with_sql_columns,
)

DEFAULT_N_BUCKETS = 256


@dataclass(frozen=True)
class KeepPolicy:
    max_ppl: float = 2000.0          # applied to Latin-script langs only
    max_pii_per_kchar: float = 20.0  # PII spans per 1000 chars
    require_known_lang: bool = True
    quality: QualityThresholds = DEFAULT_THRESHOLDS


DEFAULT_POLICY = KeepPolicy()


_DOMAIN_RE = r"^[a-z]+://([^/:?#]+)"


def domain_sql(url_col: str) -> str:
    """SQL text of the lower-cased host of the column named ``url_col``
    (the ``domain`` column :func:`classify_corpus` writes)."""
    return f"lower(regexp_extract({sql_ident(url_col)}, {sql_string(_DOMAIN_RE)}, 1))"


def domain_of(url_col: str) -> Column:
    """:func:`domain_sql` as a Column."""
    return F.expr(domain_sql(url_col))


def classify_corpus(
    df: DataFrame,
    *,
    policy: KeepPolicy = DEFAULT_POLICY,
    scrub_rules: Optional[tuple[SpanRule, ...]] = None,
    n_buckets: int = DEFAULT_N_BUCKETS,
    text_col: str = "text",
    toxicity_wordlist: Optional[tuple[str, ...]] = None,
    robots_rules: Optional[DataFrame] = None,
    drop_noindex: bool = False,
    robots_header_col: Optional[str] = None,
    domain_ranks: Optional[DataFrame] = None,
    fix_mojibake: bool = False,
    near_dup_col: Optional[str] = None,
    url_seen_col: Optional[str] = None,
    kenlm_model=None,
    kenlm_ppl_max: Optional[float] = None,
    quality_model=None,
    quality_min_p: Optional[float] = None,
    langid_model=None,
) -> DataFrame:
    """Attach langid/ppl/quality/pii/scrub columns + keep & drop_reason.

    ``toxicity_wordlist`` (optional) inserts the toxicity stage of the
    north rule's PII/toxicity-scrub: listed words are counted over the
    FULL text (``tox_n``/``tox_frac``/``tox_any`` — unbounded
    ``max_words`` so the any-hit signal agrees with the full-text
    scrub), any-hit documents get ``drop_reason='toxicity'`` (checked
    after quality, before perplexity), and the toxicity mask is applied
    to a staged copy that feeds the PII scrub, so both scrubs compose
    on ``text_scrubbed`` while the source ``text`` column is left
    byte-intact (``pii_per_kchar`` is measured against the ORIGINAL
    text length).  Default None keeps the stage out of the plan
    entirely (the reference pipeline has no toxicity stage; oracles for
    the default path are unchanged).

    ``robots_rules`` (optional, a :func:`corpus.robots.parse_robots_txt`
    frame) inserts crawl-policy enforcement: disallowed pages get
    ``drop_reason='robots_disallowed'`` before any content check — the
    rules broadcast, the corpus never shuffles.  ``drop_noindex=True``
    additionally honors the per-page ``<meta name=robots>`` noindex
    directive from the html column (``drop_reason='robots_noindex'``).
    Both default off, keeping the default-path plan and its oracles
    byte-stable.

    ``domain_ranks`` (optional, :func:`ops.linkgraph.pagerank` output
    over the domain graph) attaches ``domain_rank_units`` as a
    link-based quality PRIOR column — a signal for downstream mixing/
    sampling, not a drop rule (unranked domains are absent evidence,
    not bad pages).  The rank table broadcasts; zero corpus shuffle.

    ``fix_mojibake=True`` repairs UTF-8-mis-decoded-as-cp1252 text
    (:mod:`corpus.mojibake`) IN PLACE before any content stage, so
    langid/quality/perplexity/scrub all see the repaired text (the
    gates mis-score mojibake otherwise); ``n_mojibake_fixed`` rides
    along as a signal column.  Map-side only; default off keeps the
    default-path plan and its oracles byte-stable.

    ``near_dup_col`` (optional): name of a pre-computed boolean column
    (e.g. from :func:`ops.dedup.incremental_keep_decisions` joined
    upstream) marking documents that near-duplicate an already-kept
    page; they get ``drop_reason='near_dup'`` ahead of every content
    check.  Default None keeps the stage out of the plan.

    ``url_seen_col`` (optional): name of a pre-computed boolean column
    (e.g. a Bloom-filter probe against prior dumps' canonical URLs —
    :func:`ops.sketches.bloom_contains` on the ingest CLI) marking
    documents whose exact URL was already ingested; they get
    ``drop_reason='url_revisit'`` ahead of near-dup and every content
    check (an exact revisit needs no fuzzy matching or quality work).
    Default None keeps the stage out of the plan.

    ``kenlm_model`` (optional, a :class:`corpus.kenlm.KNBigramModel`
    or ``KNTrigramModel``, typically loaded via
    :func:`corpus.modelstore.load_model`): attaches the trained
    word-KN perplexity as ``kn_ppl`` — the CCNet quality signal, a
    TRAINED model against the built-in char-trigram ``ppl``.  With
    ``kenlm_ppl_max`` set, documents whose ``kn_ppl`` exceeds it get
    ``drop_reason='lm_perplexity'`` (checked right after the built-in
    perplexity gate); a NULL/unscorable ppl never drops.  The model
    tables ride broadcast joins; the corpus side pays one scoring
    aggregation per model plus ONE (url, text-hash)-keyed join
    rebuilding the corpus with the merged fixed-width score columns
    (scores key on the composite so duplicate-url captures each get
    their own text's score — :func:`kenlm.with_kn_perplexity` joins
    per-id and is not used here for that reason).

    ``quality_model`` (optional, a
    :class:`ops.quality_classifier.LogRegModel`): attaches the trained
    keep-probability as ``q_model_p`` — the FineWeb-Edu/DCLM
    model-based filter stage.  With ``quality_min_p`` set, documents
    scoring below it get ``drop_reason='model_quality'`` (checked
    right after the heuristic quality gate); NULL never drops.
    Inference is one featurize pass + a broadcast weight join.

    ``langid_model`` (optional, a :class:`corpus.langid_ft.LangIdFTModel`):
    attaches the TRAINED supervised language prediction as
    ``ft_lang``/``ft_score`` signal columns next to the rule-pack
    ``langid_lang`` (which stays the policy language: the trained
    model always answers with a class — it has no ``und`` — so it is
    a signal, not the keep/drop gate).  Shares the cached composite-key
    score source with the other model stages.

    All model params default None, keeping the default-path plan and
    its oracles byte-stable.

    With a model stage on, the narrow (key, text) frame the models
    score from is persisted, and the returned frame carries it as
    ``score_cache`` (None otherwise).  The caller owns it: unpersist
    it after the last action on the result, as the CLI and the
    streaming sinks do.  Building a second pipeline does not release
    the first one's cache.  Spark's CacheManager keys cached data by
    plan, so two pipelines over the same input share one entry, and
    the first ``unpersist`` releases it for both (the other then
    recomputes its scores).

    Every stage but the Python UDFs and the optional signal joins is
    built as Spark SQL text, one projection per dependency level.
    """
    rules = scrub_rules if scrub_rules is not None else default_scrub_rules()
    text = sql_ident(text_col)
    score_cache = None
    out = with_sql_columns(df, {
        "bucket_id": f"pmod(xxhash64(url), {sql_literal(int(n_buckets))})",
        "domain": domain_sql("url"),
    })
    if robots_rules is not None:
        from metacrafter_spark.corpus.robots import with_robots_allowed

        out = with_robots_allowed(out, robots_rules)
    if drop_noindex:
        from metacrafter_spark.corpus.html import with_robots_meta

        # robots_header_col (optional): an X-Robots-Tag column from the
        # WARC scan — header directives OR into the meta-tag booleans
        out = with_robots_meta(out, "html",
                               header_col=robots_header_col)
    if domain_ranks is not None:
        from metacrafter_spark.ops.linkgraph import with_domain_rank

        out = with_domain_rank(out, domain_ranks)
    if fix_mojibake:
        from metacrafter_spark.corpus.mojibake import with_fixed_text

        out = with_sql_columns(
            with_fixed_text(out, text_col, out_col="__moji_fixed"),
            {text_col: "__moji_fixed"}).drop("__moji_fixed")
    out = with_langid(out, text_col)
    out = with_perplexity(out, text_col)
    out = with_quality(out, text_col, policy.quality)
    if kenlm_model is not None or quality_model is not None \
            or langid_model is not None:
        # Score per DISTINCT (url, text-hash), not per url: a dump can
        # carry two captures of one url (revisits) — joining per-url
        # scores back would fan rows out AND blend both captures'
        # grams into one score.  The composite key gives every row the
        # score of ITS text and preserves row count exactly.  The
        # narrow (key, text) frame persists once so each enabled model
        # scores from the cache instead of re-executing the upstream
        # scan/extraction lineage per model; the score frames are
        # fixed-width, merged first, and joined back to the corpus in
        # ONE id-keyed Exchange (the remove_dup_spans rebuild shape —
        # with distinct texts per row this join cannot broadcast).
        from pyspark.storagelevel import StorageLevel

        mid = (f"concat_ws({sql_string(chr(0))}, url, "
               f"sha2(coalesce({text}, ''), 256))")
        score_cache = (out.selectExpr(f"{mid} AS __mid", text)
                       .dropDuplicates(["__mid"])
                       .persist(StorageLevel.MEMORY_AND_DISK))
        signals = None
        if kenlm_model is not None:
            from metacrafter_spark.corpus.kenlm import (
                score_kn_bigram, score_kn_trigram)

            score = (score_kn_trigram if hasattr(kenlm_model, "tri")
                     else score_kn_bigram)
            signals = score(score_cache, kenlm_model, id_col="__mid",
                            text_col=text_col) \
                .selectExpr("__mid", "ppl AS kn_ppl")
        if quality_model is not None:
            from metacrafter_spark.ops.quality_classifier import (
                score_logreg)

            qm = score_logreg(score_cache, quality_model,
                              id_col="__mid", text_col=text_col) \
                .selectExpr("__mid", "CAST(p AS DOUBLE) AS q_model_p")
            signals = qm if signals is None else \
                signals.join(qm, "__mid", "full")
        if langid_model is not None:
            from metacrafter_spark.corpus.langid_ft import (
                predict_langid_ft)

            lf = predict_langid_ft(score_cache, langid_model,
                                   id_col="__mid", text_col=text_col) \
                .selectExpr("__mid", "pred_lang AS ft_lang",
                            "score AS ft_score")
            signals = lf if signals is None else \
                signals.join(lf, "__mid", "full")
        out = (with_sql_columns(out, {"__mid": mid})
               .join(signals, "__mid", "left").drop("__mid"))
    if toxicity_wordlist is not None:
        from metacrafter_spark.corpus.toxicity import scrub_toxic, with_toxicity

        out = with_toxicity(out, text_col, toxicity_wordlist, max_words=0)
        out = scrub_toxic(out, text_col, toxicity_wordlist,
                          out_col="__tox_masked")
        out = with_scrub(out, "__tox_masked", rules).drop("__tox_masked")
    else:
        out = with_scrub(out, text_col, rules)
    # the drop_reason chain: the first firing condition names the reason
    reasons = []
    if robots_rules is not None:
        reasons.append(("NOT robots_allowed", "robots_disallowed"))
    if drop_noindex:
        reasons.append(("noindex", "robots_noindex"))
    if url_seen_col is not None:
        # exact-URL revisit (cross-dump Bloom probe upstream): drops
        # before near-dup — no fuzzy work for a byte-identical revisit
        reasons.append((sql_ident(url_seen_col), "url_revisit"))
    if near_dup_col is not None:
        # a pre-computed near-dup verdict (e.g. incremental_keep_decisions
        # on the ingest CLI): dedup precedes content judgement — a page
        # already kept in a prior dump drops here regardless of quality
        reasons.append((sql_ident(near_dup_col), "near_dup"))
    if policy.require_known_lang:
        reasons.append((f"NOT (langid_lang <> {sql_string(UNKNOWN)})",
                        "lang_unknown"))
    reasons.append(("NOT q_pass", "quality"))
    if quality_model is not None and quality_min_p is not None:
        # NULL-safe: only an affirmative below-threshold score drops
        reasons.append((f"q_model_p < {sql_literal(float(quality_min_p))}",
                        "model_quality"))
    if toxicity_wordlist is not None:
        reasons.append(("tox_any", "toxicity"))
    reasons.append((
        "NOT (CASE WHEN langid_lang IN ('en', 'fr', 'de', 'es') "
        f"THEN ppl <= {sql_literal(policy.max_ppl)} ELSE true END)",
        "perplexity"))
    if kenlm_model is not None and kenlm_ppl_max is not None:
        reasons.append((f"kn_ppl > {sql_literal(float(kenlm_ppl_max))}",
                        "lm_perplexity"))
    reasons.append((
        f"NOT (pii_per_kchar <= {sql_literal(policy.max_pii_per_kchar)})",
        "pii_density"))
    out = with_sql_columns(
        out, {"pii_total": total_hits_sql("pii_hits", rules)})
    out = with_sql_columns(out, {
        "pii_per_kchar": "CAST(pii_total AS DOUBLE) * 1000.0D / "
                         f"CAST(greatest(length({text}), 1) AS DOUBLE)"})
    out = with_sql_columns(out, {"drop_reason": "CASE " + " ".join(
        f"WHEN {cond} THEN {sql_string(r)}" for cond, r in reasons) + " END"})
    out = with_sql_columns(out, {"keep": "drop_reason IS NULL"})
    out.score_cache = score_cache
    return out


def bucket_metrics(
    classified: DataFrame,
    rules: Optional[tuple[SpanRule, ...]] = None,
    run_id: str = "run0",
) -> DataFrame:
    """Per-bucket lineage + rule-hit metrics (the checkpoint unit).

    Per-rule hits come from the ``pii_hits`` struct of a classified
    frame, or from the ``pii_hits_<rule>`` columns
    :func:`metacrafter_spark.io.iceberg.flatten_struct_columns` writes,
    so the metrics can be read off a written table."""
    rules = rules if rules is not None else default_scrub_rules()
    def hits(name: str) -> str:
        if "pii_hits" in columns:
            return f"pii_hits.{sql_ident(name)}"
        return sql_ident(f"pii_hits_{name}")

    columns = classified.columns
    aggs = [
        "count(1) AS n_docs",
        "sum(CAST(keep AS BIGINT)) AS n_keep",
        "min(warc_ts) AS min_warc_ts",
        "max(warc_ts) AS max_warc_ts",
        "sum(pii_total) AS pii_spans",
    ] + [f"sum({hits(r.name)}) AS {sql_ident('hits_' + r.name)}"
         for r in rules]
    return with_sql_columns(
        classified.groupBy("bucket_id").agg(*map(F.expr, aggs)),
        {"run_id": sql_string(run_id), "completed": "true"})


def salted_agg(
    df: DataFrame,
    key_col: str,
    value_col: str,
    salt_col: str,
    n_salts: int = 16,
) -> DataFrame:
    """Generic two-phase salted count+sum for zipfian keys.

    Phase 1 groups by ``(key, pmod(xxhash64(salt_col), n_salts))`` so a
    hot key's rows spread over n_salts reducers; phase 2 re-aggregates
    the tiny partials.  ``salt_col`` should be high-cardinality (a row
    id / url).  The sum runs over an exact DECIMAL cast so the result is
    independent of partition and salting arrangement."""
    v = F.col(value_col).cast("decimal(28,6)")
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(salt_col)), F.lit(n_salts))
    )
    partial = salted.groupBy(key_col, "_salt").agg(
        F.count(F.lit(1)).alias("n"), F.sum(v).alias("s")
    )
    return (
        partial.groupBy(key_col)
        .agg(F.sum("n").alias("n_rows"), F.sum("s").alias("sum_value"))
    )


def salted_domain_stats(
    classified: DataFrame, n_salts: int = 16
) -> DataFrame:
    """Per-domain keep-rate stats via two-phase salted aggregation.

    Web domains are zipfian: one domain can dominate the corpus, so a
    plain groupBy('domain') sends that key to one reducer.  Phase 1
    groups by (domain, salt) — the heavy key splits across n_salts
    reducers — phase 2 re-aggregates the (tiny) partials.
    """
    salted = classified.withColumn(
        "_salt", F.pmod(F.xxhash64("url", F.lit(1)), F.lit(n_salts))
    )
    partial = salted.groupBy("domain", "_salt").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("keep").cast("long")).alias("k"),
        F.sum("pii_total").alias("p"),
    )
    return (
        partial.groupBy("domain")
        .agg(
            F.sum("n").alias("n_docs"),
            F.sum("k").alias("n_keep"),
            F.sum("p").alias("pii_spans"),
        )
        .withColumn("keep_rate", F.col("n_keep") / F.col("n_docs"))
    )
