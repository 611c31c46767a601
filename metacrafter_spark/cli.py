"""Minimal CLI — the reference's ``metacrafter scan file/db/bulk`` surface.

    python -m metacrafter_spark.cli scan-file data.csv [--limit 100] ...
    python -m metacrafter_spark.cli scan-db jdbc:derby:/x people,orders -o r.json
    python -m metacrafter_spark.cli scan-bulk ./dir -o report.json
    python -m metacrafter_spark.cli corpus-run in.parquet out/ metrics/

Kept argparse-only (no typer in this environment).
"""

from __future__ import annotations

import argparse
import json
import sys


def _json_scalar(v):
    """Bounds values → JSON-safe (datetime/date/Decimal → str)."""
    return v if isinstance(v, (int, float, str, bool, type(None))) \
        else str(v)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(prog="metacrafter-spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    sf = sub.add_parser("scan-file", help="classify every column of a file")
    sf.add_argument("path")
    sf.add_argument("--format", dest="fmt")
    sf.add_argument("--delimiter")
    sf.add_argument("--limit", type=int, default=100)  # CLI default, core.py:134
    sf.add_argument("--contexts")
    sf.add_argument("--langs")
    sf.add_argument("--confidence", type=float)
    sf.add_argument("--dates", action="store_true", help="enable date battery")
    sf.add_argument("--output", "-o")
    sf.add_argument("--output-format", default="json", choices=["json", "csv", "yaml"])
    sf.add_argument("--short", action="store_true")
    sf.add_argument("--cores", type=int)
    # LLM / hybrid classification (reference --use-llm/--llm-only
    # surface, core.py:151-158); registry JSONL is required when a
    # mode is set.  Provider "offline" is the deterministic
    # no-network heuristic; hosted providers need their API-key env.
    sf.add_argument("--llm-mode", choices=["hybrid", "llm"],
                    help="enable LLM classification: 'hybrid' merges "
                         "low-confidence fields, 'llm' bypasses rules")
    sf.add_argument("--llm-registry",
                    help="datatypes registry JSONL for the RAG index")
    sf.add_argument("--llm-provider", default="offline",
                    help="offline|openai|openrouter|ollama|lmstudio|"
                         "perplexity (default: offline heuristic)")
    sf.add_argument("--llm-model", help="override the provider model")
    sf.add_argument("--llm-base-url", help="override the provider URL")
    sf.add_argument("--llm-index", help="persist/reuse the vector index "
                                        "in this directory")
    sf.add_argument("--llm-min-confidence", type=float, default=50.0,
                    help="hybrid mode only: rule-confidence bar below "
                         "which the LLM is consulted, and which its "
                         "answer must clear to land (ignored in "
                         "--llm-mode llm, matching the reference)")

    cr = sub.add_parser("corpus-run", help="keep/drop + scrub a webpages table")
    cr.add_argument("input")
    cr.add_argument("output")
    cr.add_argument("metrics")
    cr.add_argument("--resume", action="store_true")
    cr.add_argument("--toxicity-wordlist",
                    help="comma-separated words; enables the toxicity stage")
    cr.add_argument("--cores", type=int)

    wi = sub.add_parser(
        "warc-ingest",
        help="Common-Crawl WARC shards → keep/drop + PII scrub → "
             "Iceberg table with checkpoint resume (the north-rule "
             "ingestion path)")
    wi.add_argument("cdx_glob", help="CDXJ index glob (record-level "
                                     "parallel range fetch)")
    wi.add_argument("warc_dir", help="directory holding the .warc.gz "
                                     "shards the index points into")
    wi.add_argument("output", help="Iceberg table location for "
                                   "classified documents")
    wi.add_argument("metrics", help="Iceberg table location for "
                                    "per-bucket lineage metrics")
    wi.add_argument("--resume", action="store_true")
    wi.add_argument("--plain-parquet", action="store_true",
                    help="write plain parquet dirs instead of Iceberg "
                         "tables")
    wi.add_argument("--toxicity-wordlist",
                    help="comma-separated words; enables the toxicity "
                         "stage")
    wi.add_argument("--buckets", type=int, default=None,
                    help="lineage/checkpoint bucket count (default "
                         "256; size so one bucket ≈ one executor-"
                         "minute of work at your scale)")
    wi.add_argument("--main-text", action="store_true",
                    help="extract boilerplate-stripped main content "
                         "(block-level link-density filter) instead "
                         "of raw text for the pipeline's text column; "
                         "the raw extraction is kept as text_raw")
    wi.add_argument("--doc-attachments", action="store_true",
                    help="route every payload through the unified "
                         "document extractor (magic-byte router + "
                         "Content-Type hint): html AND pdf/docx/odt/"
                         "rtf/doc/epub/plain-text responses all yield "
                         "text; incompatible with --main-text (which "
                         "is html-only)")
    wi.add_argument("--robots-from-crawl", action="store_true",
                    help="harvest /robots.txt responses from the WARC "
                         "input itself (CC shards carry them), parse "
                         "them for --robots-agent and drop disallowed "
                         "pages (drop_reason=robots_disallowed); the "
                         "robots.txt records themselves are excluded "
                         "from the corpus")
    wi.add_argument("--drop-noindex", action="store_true",
                    help="honor noindex from <meta name=robots> AND "
                         "the X-Robots-Tag response header "
                         "(drop_reason='robots_noindex')")
    wi.add_argument("--fix-mojibake", action="store_true",
                    help="repair UTF-8-mis-decoded-as-cp1252 text "
                         "before the content stages (langid/quality/"
                         "scrub see the repaired text)")
    wi.add_argument("--robots-agent", default="*",
                    help="product token for robots group selection "
                         "(default '*')")
    wi.add_argument("--outlinks", metavar="PATH",
                    help="also write the distinct page-level link "
                         "graph (src,dst parquet) extracted from the "
                         "same WARC scan — the html is already in "
                         "hand here; re-parsing the corpus later just "
                         "for edges is the thing to avoid at scale")
    wi.add_argument("--minhash-store", metavar="PATH",
                    help="cross-dump document-level near-dup dedup "
                         "(FineWeb shape): drop pages whose MinHash "
                         "signature near-dups a previously ingested "
                         "dump's page (or an earlier page of this "
                         "dump; the prior corpus persists only as a "
                         "text-free signature store at PATH, created "
                         "on first run, advanced after each "
                         "successful ingest); nd_prior_dups/"
                         "nd_new_dups ride into the corpus table")
    wi.add_argument("--para-dedup-store", metavar="PATH",
                    help="cross-dump paragraph dedup (CCNet): drop "
                         "paragraphs already seen in previously "
                         "ingested dumps (PATH = parquet key store, "
                         "created on first run, updated after each "
                         "successful ingest) and keep-first dedup "
                         "within this dump; quality gates then judge "
                         "the deduped text")
    wi.add_argument("--url-hll-store", metavar="PATH",
                    help="cross-dump unique-URL counter: merge this "
                         "dump's canonical-URL HyperLogLog registers "
                         "into the persisted store (advanced only "
                         "after a successful ingest; register merge is "
                         "idempotent, so crashed-run replays cannot "
                         "double-count) and report url_distinct_est "
                         "in the summary")
    wi.add_argument("--url-bloom-store", metavar="PATH",
                    help="cross-dump exact-URL revisit dedup: probe "
                         "each page's canonical URL against the "
                         "persisted Bloom filter of every previously "
                         "ingested dump's URLs (PATH = packed-word "
                         "parquet store, created on first run, "
                         "bit_or-merged after each successful ingest "
                         "— idempotent, so crashed-run replays cannot "
                         "corrupt it); revisits get "
                         "drop_reason='url_revisit' (marked, never "
                         "removed). No false negatives; false-positive "
                         "rate governed by --bloom-bits/--bloom-hashes")
    wi.add_argument("--bloom-bits", type=int, default=1 << 22,
                    help="Bloom filter size in bits (default 2^22; "
                         "size ~1.2*n*ln(1/fp)/ln(2)^2 bits for n "
                         "expected URLs at rate fp)")
    wi.add_argument("--bloom-hashes", type=int, default=7,
                    help="Bloom hash count k (default 7)")
    wi.add_argument("--stream", metavar="CHECKPOINT",
                    help="run as a Structured Streaming job instead of "
                         "a batch: new CDXJ index files ingest "
                         "incrementally, micro-batches commit to "
                         "Iceberg as partition swaps (exactly-once on "
                         "replay); the value is the stream checkpoint "
                         "location")
    wi.add_argument("--kenlm-model", metavar="PATH",
                    help="persisted KN language model (mc train-lm): "
                         "attach the trained word-LM perplexity as "
                         "kn_ppl (the CCNet quality signal)")
    wi.add_argument("--kenlm-ppl-max", type=float, default=None,
                    help="with --kenlm-model: drop documents whose "
                         "kn_ppl exceeds this "
                         "(drop_reason='lm_perplexity'); default "
                         "signal-only")
    wi.add_argument("--quality-model", metavar="PATH",
                    help="persisted quality classifier (mc "
                         "train-quality): attach the trained keep-"
                         "probability as q_model_p (FineWeb-Edu shape)")
    wi.add_argument("--quality-min-p", type=float, default=None,
                    help="with --quality-model: drop documents scoring "
                         "below this probability "
                         "(drop_reason='model_quality'); default "
                         "signal-only")
    wi.add_argument("--langid-model", metavar="PATH",
                    help="persisted supervised langid (mc "
                         "train-langid): attach ft_lang/ft_score "
                         "signal columns next to the rule-pack "
                         "langid_lang (signal only — the trained "
                         "model has no 'und' class, so the rule pack "
                         "stays the keep/drop gate)")
    wi.add_argument("--cores", type=int)

    tl = sub.add_parser(
        "train-lm",
        help="train a Kneser-Ney word LM on a reference corpus and "
             "persist it as a model artifact (the CCNet shape: train "
             "once on e.g. Wikipedia, score every dump via warc-ingest "
             "--kenlm-model)")
    tl.add_argument("input", help="training corpus: Iceberg table "
                                  "location or plain parquet")
    tl.add_argument("model", help="model artifact directory to write")
    tl.add_argument("--trigram", action="store_true",
                    help="order-3 interpolated KN (default bigram)")
    tl.add_argument("--text-col", default="text")
    tl.add_argument("--vocab-size", type=int, default=4096)
    tl.add_argument("--max-words", type=int, default=500)
    tl.add_argument("--overwrite", action="store_true")
    tl.add_argument("--cores", type=int)

    tq = sub.add_parser(
        "train-quality",
        help="train the hashed-n-gram logistic quality classifier on "
             "a labeled corpus and persist it (FineWeb-Edu shape: "
             "label a seed set, train once, score every dump via "
             "warc-ingest --quality-model)")
    tq.add_argument("input", help="labeled corpus: Iceberg table "
                                  "location or plain parquet")
    tq.add_argument("model", help="model artifact directory to write")
    tq.add_argument("--label-col", required=True,
                    help="0/1 integer column (1 = keep-worthy)")
    tq.add_argument("--id-col", default="doc_id")
    tq.add_argument("--text-col", default="text")
    tq.add_argument("--buckets", type=int, default=4096)
    tq.add_argument("--max-words", type=int, default=200)
    tq.add_argument("--iterations", type=int, default=6)
    tq.add_argument("--lr", type=float, default=0.5)
    tq.add_argument("--w-neg", type=float, default=1.0,
                    help="negative-class residual weight (set ≈ "
                         "N_pos/N_neg when junk is the minority)")
    tq.add_argument("--w-pos", type=float, default=1.0)
    tq.add_argument("--binary", action="store_true",
                    help="binary-presence features instead of counts")
    tq.add_argument("--overwrite", action="store_true")
    tq.add_argument("--cores", type=int)

    tli = sub.add_parser(
        "train-langid",
        help="train the supervised hashed-char-gram language "
             "classifier on a labeled corpus and persist it "
             "(the north rule's fastText-style langid as a trained "
             "model; score via warc-ingest --langid-model)")
    tli.add_argument("input", help="labeled corpus: Iceberg table "
                                   "location or plain parquet")
    tli.add_argument("model", help="model artifact directory to write")
    tli.add_argument("--label-col", default="lang")
    tli.add_argument("--id-col", default="doc_id")
    tli.add_argument("--text-col", default="text")
    tli.add_argument("--buckets", type=int, default=2048)
    tli.add_argument("--max-chars", type=int, default=200)
    tli.add_argument("--iterations", type=int, default=6)
    tli.add_argument("--lr", type=float, default=8.0)
    tli.add_argument("--w-pos", type=float, default=33.0,
                     help="one-vs-rest positive-residual weight "
                          "(≈ K−1 for balanced classes)")
    tli.add_argument("--overwrite", action="store_true")
    tli.add_argument("--cores", type=int)

    dd = sub.add_parser("dedup", help="near-duplicate detection over a "
                        "parquet table (MinHash-LSH + exact-Jaccard verify, "
                        "or directional containment for subset dups)")
    dd.add_argument("input", help="parquet with id + text columns")
    dd.add_argument("output", help="output parquet of (id_a, id_b, jaccard) "
                    "or, with --containment, (id_small, id_big, n_small, "
                    "n_big, inter, containment)")
    dd.add_argument("--id-col", default="doc_id")
    dd.add_argument("--text-col", default="text")
    dd.add_argument("--threshold", type=float, default=0.8)
    dd.add_argument("--containment", action="store_true",
                    help="directional n-gram containment instead of "
                         "Jaccard: catches a short page fully duplicated "
                         "inside a long one (syndication)")
    dd.add_argument("--ngram", type=int, default=3,
                    help="containment word-n-gram size")
    dd.add_argument("--max-gram-docs", type=int, default=200,
                    help="containment hot-gram guard: ignore grams in "
                         "more than this many docs")
    dd.add_argument("--cores", type=int)

    card = sub.add_parser(
        "dataset-card",
        help="composition report over a classified corpus (per-lang / "
             "per-drop-reason / top-domain doc+kept+char+word counts) "
             "as one JSON card")
    card.add_argument("input", help="classified corpus: Iceberg table "
                      "location (warc-ingest output) or plain parquet")
    card.add_argument("--output", "-o", help="write the JSON card here "
                      "(default: stdout)")
    card.add_argument("--top-domains", type=int, default=10)
    card.add_argument("--text-col", default="text")
    card.add_argument("--lang-col", default="langid_lang")
    card.add_argument("--cores", type=int)

    wt = sub.add_parser(
        "classify-webtables",
        help="harvest every <table> on a crawl and classify each "
             "table column with the rule pack (which web tables leak "
             "PII, at crawl scale)")
    wt.add_argument("cdx_glob", help="CDXJ index glob of the WARC dump")
    wt.add_argument("warc_dir", help="directory holding the WARC shards")
    wt.add_argument("output", help="parquet output: one row per "
                                   "(table column, matched rule)")
    wt.add_argument("--rules", help="YAML rule-pack directory "
                                    "(default: builtin pack)")
    wt.add_argument("--confidence", type=float, default=95.0)
    wt.add_argument("--min-rows", type=int, default=2)
    wt.add_argument("--max-rows-per-col", type=int, default=1000)
    wt.add_argument("--cores", type=int)

    xd = sub.add_parser(
        "extract-docs",
        help="directory/glob of mixed document files (html/pdf/docx/"
             "odt/rtf/doc/epub/txt) → parquet text table via the "
             "unified magic-byte router; one Spark task per file")
    xd.add_argument("input", help="file glob, e.g. /data/docs/**")
    xd.add_argument("output", help="parquet output path")
    xd.add_argument("--strict", action="store_true",
                    help="raise on undecodable payloads instead of "
                         "emitting NULL text")
    xd.add_argument("--cores", type=int)

    pdp = sub.add_parser(
        "para-dedup",
        help="corpus-wide paragraph dedup (CCNet: drop duplicated / "
             "common boilerplate paragraphs crawl-wide)")
    pdp.add_argument("input", help="parquet with id + text columns")
    pdp.add_argument("output", help="output parquet (original columns + "
                     "text_dedup, n_paras, n_removed)")
    pdp.add_argument("--id-col", default="doc_id")
    pdp.add_argument("--text-col", default="text")
    pdp.add_argument("--mode", choices=["keep_first", "drop_common"],
                     default="keep_first")
    pdp.add_argument("--min-docs", type=int, default=2,
                     help="drop_common: drop paragraphs appearing in "
                          ">= this many distinct documents")
    pdp.add_argument("--cores", type=int)

    hd = sub.add_parser(
        "sketch-distinct",
        help="distinct-value estimate via a mergeable HyperLogLog "
             "sketch; --store persists registers across dumps (the "
             "cross-dump \"unique URLs ever seen\" memory)")
    hd.add_argument("input", help="parquet with the column to count")
    hd.add_argument("--col", default="url")
    hd.add_argument("--p", type=int, default=12,
                    help="precision: 2^p registers (default 12 → "
                         "4096 registers, ~1.6%% rel. error)")
    hd.add_argument("--store", metavar="DIR",
                    help="persisted register store: merged before "
                         "estimating, atomically advanced after")
    hd.add_argument("--cores", type=int)

    ho = sub.add_parser(
        "sketch-overlap",
        help="overlap between two value sets via KMV sketches: "
             "Jaccard + union-cardinality estimates (the recrawl-rate "
             "metric between dumps)")
    ho.add_argument("input_a", help="parquet A (the new dump when "
                    "--store is used)")
    ho.add_argument("input_b", nargs="?",
                    help="parquet B; omit with --store to compare "
                         "against the persisted corpus-so-far sketch")
    ho.add_argument("--col", default="url")
    ho.add_argument("--k", type=int, default=1024,
                    help="sketch size (default 1024: ~3%% Jaccard "
                         "std error)")
    ho.add_argument("--store", metavar="DIR",
                    help="persisted KMV sketch of everything ingested "
                         "so far: report input_a's overlap against it, "
                         "then atomically advance it to the merge — "
                         "the per-dump recrawl-rate flow")
    ho.add_argument("--cores", type=int)

    pg = sub.add_parser("pagerank", help="link-quality ranks over an "
                        "edge parquet (e.g. warc-ingest --outlinks "
                        "output) — integer fixed-point, deterministic")
    pg.add_argument("edges", help="parquet with src + dst columns")
    pg.add_argument("output", help="output parquet of (node, pr_units, "
                    "pr)")
    pg.add_argument("--iterations", type=int, default=10)
    pg.add_argument("--damping", default="0.85",
                    help="exact rational, e.g. 0.85 = 17/20")
    pg.add_argument("--domains", action="store_true",
                    help="aggregate page edges to registered domains "
                         "first (the CC-domain-ranks granularity)")
    pg.add_argument("--checkpoint-every", type=int, default=5)
    pg.add_argument("--cores", type=int)

    dc = sub.add_parser("decontaminate", help="flag corpus docs sharing "
                        "n-grams with a benchmark/eval parquet")
    dc.add_argument("corpus", help="parquet with id + text columns")
    dc.add_argument("benchmark", help="parquet with a text column")
    dc.add_argument("output", help="output parquet of per-doc overlap stats")
    dc.add_argument("--id-col", default="doc_id")
    dc.add_argument("--text-col", default="text")
    dc.add_argument("--ngram", type=int, default=13,
                    help="collision n-gram size (GPT-3 used 13)")
    dc.add_argument("--min-hits", type=int, default=1)
    dc.add_argument("--cores", type=int)

    sp = sub.add_parser("sample", help="deterministic sampling: fraction, "
                        "per-stratum quota, or per-stratum weight budget")
    sp.add_argument("input")
    sp.add_argument("output")
    sp.add_argument("--id-col", default="doc_id")
    sp.add_argument("--fraction", type=float)
    sp.add_argument("--strata-col")
    sp.add_argument("--quota", type=int)
    sp.add_argument("--budget", type=float)
    sp.add_argument("--weight-col")
    sp.add_argument("--seed", type=int, default=0)
    sp.add_argument("--cores", type=int)

    cp = sub.add_parser("compact", help="rewrite a fragmented parquet dir "
                        "into near-target-size (optionally sorted) files")
    cp.add_argument("src")
    cp.add_argument("dst")
    cp.add_argument("--target-mb", type=int, default=256)
    cp.add_argument("--sort-cols", help="comma-separated sort columns")
    cp.add_argument("--zorder-cols",
                    help="comma-separated integer columns (>= 2) to "
                         "Z-ORDER the rewrite by: every output file "
                         "covers a compact hyper-rectangle, so min/max "
                         "stats prune filters on ANY listed column "
                         "(mutually exclusive with --sort-cols; bounds "
                         "derived from one min/max aggregate)")
    cp.add_argument("--cores", type=int)

    cs = sub.add_parser("corpus-stream",
                        help="streaming keep/drop + scrub (availableNow drain)")
    cs.add_argument("input")
    cs.add_argument("output")
    cs.add_argument("metrics")
    cs.add_argument("checkpoint")
    cs.add_argument("--cores", type=int)

    sdb = sub.add_parser("scan-db", help="classify every table of a JDBC DB")
    sdb.add_argument("url", help="JDBC url, e.g. jdbc:derby:/path/db")
    sdb.add_argument("tables", help="comma-separated table names")
    sdb.add_argument("--driver", help="JDBC driver class")
    sdb.add_argument("--limit", type=int, default=1000)
    sdb.add_argument("--output", "-o", required=True)
    sdb.add_argument("--output-format", default="json",
                     choices=["json", "csv", "yaml"])
    sdb.add_argument("--short", action="store_true")
    sdb.add_argument("--stats-only", action="store_true")
    sdb.add_argument("--cores", type=int)

    sm = sub.add_parser(
        "scan-mongodump",
        help="classify every collection of a mongodump directory")
    sm.add_argument("dump_dir")
    sm.add_argument("--db", help="restrict to one database subdir")
    sm.add_argument("--limit", type=int, default=1000)
    sm.add_argument("--output", "-o", required=True)
    sm.add_argument("--output-format", default="json",
                    choices=["json", "csv", "yaml"])
    sm.add_argument("--short", action="store_true")
    sm.add_argument("--stats-only", action="store_true")
    sm.add_argument("--cores", type=int)

    sb = sub.add_parser("scan-bulk",
                        help="classify every supported file in a directory")
    sb.add_argument("dirname")
    sb.add_argument("--limit", type=int, default=100)
    sb.add_argument("--output", "-o", required=True)
    sb.add_argument("--output-format", default="json",
                    choices=["json", "csv", "yaml"])
    sb.add_argument("--short", action="store_true")
    sb.add_argument("--stats-only", action="store_true")
    sb.add_argument("--cores", type=int)

    sv = sub.add_parser("serve", help="HTTP scan server "
                        "(POST /api/v1/scan_data, reference server parity)")
    sv.add_argument("--host", default="127.0.0.1")
    sv.add_argument("--port", type=int, default=8000)
    sv.add_argument("--cores", type=int)

    ds = sub.add_parser(
        "dsir", help="DSIR importance resampling: select corpus docs "
        "whose hashed-ngram distribution matches a target corpus")
    ds.add_argument("corpus", help="raw corpus parquet path")
    ds.add_argument("target", help="target corpus parquet path")
    ds.add_argument("k", type=int, help="documents to select")
    ds.add_argument("--output", "-o", required=True,
                    help="output parquet for the selected rows")
    ds.add_argument("--id-col", default="doc_id")
    ds.add_argument("--text-col", default="text")
    ds.add_argument("--buckets", type=int, default=4096)
    ds.add_argument("--max-words", type=int, default=500)
    ds.add_argument("--seed", type=int, default=0)
    ds.add_argument("--cores", type=int)

    it = sub.add_parser(
        "iceberg", help="table maintenance on a pure-Python Iceberg "
        "table: expire / compact / orphans / tag / snapshots")
    it.add_argument("action", choices=["expire", "compact", "orphans",
                                       "tag", "untag", "snapshots",
                                       "count", "bounds"])
    it.add_argument("table", help="table directory location")
    it.add_argument("--keep-last", type=int)
    it.add_argument("--older-than-ms", type=int)
    it.add_argument("--dry-run", action="store_true")
    it.add_argument("--name", help="tag name (tag/untag) / column "
                                   "name (bounds)")
    it.add_argument("--snapshot-id", type=int)
    it.add_argument("--cores", type=int)  # unused; uniform interface

    ex = sub.add_parser(
        "export", help="push a scan-report JSON to a metadata catalog "
        "(datahub / openmetadata / atlas)")
    ex.add_argument("catalog", choices=["datahub", "openmetadata", "atlas"])
    ex.add_argument("report", help="scan-report JSON (scan-file --output)")
    ex.add_argument("--url", required=True, help="catalog server URL")
    ex.add_argument("--target", required=True,
                    help="dataset URN (datahub) / table FQN (openmetadata) "
                         "/ table qualified name (atlas)")
    ex.add_argument("--token")
    ex.add_argument("--username")
    ex.add_argument("--password")
    ex.add_argument("--min-confidence", type=float, default=0.0)
    ex.add_argument("--replace", action="store_true")
    ex.add_argument("--timeout", type=float, default=30.0)
    ex.add_argument("--entity-type", default="rdbms_column",
                    help="atlas column entity type")
    ex.add_argument("--cores", type=int)  # unused; uniform interface

    args = p.parse_args(argv)

    if args.cmd == "iceberg":  # driver-side metadata ops — no Spark
        from metacrafter_spark.io.iceberg import IcebergTable

        t = IcebergTable.load(args.table)
        if args.action == "expire":
            stats = t.expire_snapshots(keep_last=args.keep_last,
                                       older_than_ms=args.older_than_ms,
                                       dry_run=args.dry_run)
            print(json.dumps({**stats,
                              "n_deleted_files": len(stats["deleted_files"]),
                              "deleted_files": stats["deleted_files"][:20]}))
        elif args.action == "compact":
            snap = t.rewrite_manifests()
            print(json.dumps({"snapshot_id": snap.snapshot_id,
                              "operation": snap.operation,
                              "summary": snap.summary}))
        elif args.action == "orphans":
            removed = t.remove_orphan_files(dry_run=args.dry_run,
                                            older_than_ms=args.older_than_ms)
            print(json.dumps({"n_orphans": len(removed),
                              "orphans": removed[:20],
                              "dry_run": args.dry_run}))
        elif args.action == "tag":
            if not args.name:
                raise SystemExit("--name is required for tag")
            t.create_tag(args.name, snapshot_id=args.snapshot_id)
            print(json.dumps({"tagged": args.name,
                              "snapshot_id": t.resolve_ref(args.name)}))
        elif args.action == "untag":
            if not args.name:
                raise SystemExit("--name is required for untag")
            t.remove_tag(args.name)
            print(json.dumps({"removed": args.name}))
        elif args.action == "count":
            # O(metadata) when provably exact; refuses (exit 1) when
            # live deletes would make the metadata sum wrong
            try:
                n = t.count_rows(snapshot_id=args.snapshot_id)
            except ValueError as exc:
                raise SystemExit(str(exc))
            print(json.dumps({"rows": n, "source": "metadata"}))
        elif args.action == "bounds":
            if not args.name:
                raise SystemExit("--name (column) is required for bounds")
            try:
                b = t.column_bounds(args.name,
                                    snapshot_id=args.snapshot_id)
            except ValueError as exc:
                raise SystemExit(str(exc))
            print(json.dumps(
                {"column": args.name,
                 "min": None if b is None else _json_scalar(b[0]),
                 "max": None if b is None else _json_scalar(b[1]),
                 "exact": b is not None}))
        else:  # snapshots
            print(json.dumps([
                {"snapshot_id": s.snapshot_id, "operation": s.operation,
                 "timestamp_ms": s.timestamp_ms, "schema_id": s.schema_id,
                 "summary": s.summary}
                for s in t.snapshots]))
        return 0

    if args.cmd == "export":  # driver-side only — no Spark session needed
        with open(args.report, encoding="utf8") as f:
            report = json.load(f)
        # our JSON reports carry detailed entries under "data"; the
        # reference's own file writer uses "fields" — accept both
        if not report.get("data") and report.get("fields"):
            report["data"] = report["fields"]
        if args.catalog == "datahub":
            from metacrafter_spark.integrations import DataHubExporter
            exp = DataHubExporter(args.url, token=args.token,
                                  timeout=args.timeout, replace=args.replace)
            stats = exp.export_scan_results(
                args.target, report, min_confidence=args.min_confidence)
        elif args.catalog == "openmetadata":
            from metacrafter_spark.integrations import OpenMetadataExporter
            exp = OpenMetadataExporter(args.url, token=args.token,
                                       timeout=args.timeout,
                                       replace=args.replace)
            stats = exp.export_scan_results(
                args.target, report, min_confidence=args.min_confidence)
        else:
            from metacrafter_spark.integrations import AtlasExporter
            exp = AtlasExporter(args.url, username=args.username,
                                password=args.password, token=args.token,
                                timeout=args.timeout, replace=args.replace)
            stats = exp.export_scan_results(
                args.target, report, entity_type=args.entity_type,
                min_confidence=args.min_confidence)
        print(json.dumps(stats))
        return 0 if not stats["errors"] else 1

    from pyspark.sql import SparkSession

    from metacrafter_spark.session import get_spark

    preexisting = SparkSession.getActiveSession() is not None
    spark = get_spark(app_name=f"mcs-{args.cmd}", cores=args.cores)
    # each phase below names its Spark jobs (the job description); the
    # caller's own description comes back on exit
    caller_job = spark.sparkContext.getLocalProperty("spark.job.description")
    phase = spark.sparkContext.setJobDescription
    try:
        if args.cmd == "scan-file":
            from metacrafter_spark.io.sinks import report_rows, write_report
            from metacrafter_spark.io.sources import scan_file
            from metacrafter_spark.scanner import scan_dataframe

            phase("scan-file: read")
            df = scan_file(spark, args.path, fmt=args.fmt,
                           delimiter=args.delimiter)
            llm_classifier = None
            if args.llm_mode:
                if not args.llm_registry:
                    p.error("--llm-mode requires --llm-registry")
                from metacrafter_spark.llm import LLMClassifier

                pkw = {}
                if args.llm_model:
                    pkw["model"] = args.llm_model
                if args.llm_base_url:
                    pkw["base_url"] = args.llm_base_url
                llm_classifier = LLMClassifier(
                    args.llm_registry, index_path=args.llm_index,
                    provider=args.llm_provider, **pkw)
            phase("scan-file: scan")
            rep = scan_dataframe(
                df, limit=args.limit, contexts=args.contexts, langs=args.langs,
                confidence=args.confidence, parse_dates=args.dates,
                llm_classifier=llm_classifier, llm_mode=args.llm_mode,
                llm_min_confidence=args.llm_min_confidence,
            )
            phase("scan-file: report")
            if args.output:
                write_report(rep, args.output, fmt=args.output_format,
                             short=args.short)
                print(f"wrote {args.output}")
            else:
                for row in report_rows(rep, args.short):
                    print(json.dumps(row, ensure_ascii=False))
        elif args.cmd == "corpus-stream":
            from metacrafter_spark.corpus.streaming import stream_classify

            stream_classify(spark, args.input, args.output, args.metrics,
                            args.checkpoint)
            n = spark.read.parquet(args.output).count()
            print(json.dumps({"streamed_total": n}))
        elif args.cmd == "scan-db":
            from metacrafter_spark.io.sinks import write_db_report
            from metacrafter_spark.io.sources import scan_db
            from metacrafter_spark.scanner import scan_dataframe

            props = {"driver": args.driver} if args.driver else None
            frames = scan_db(spark, args.url,
                             [t.strip() for t in args.tables.split(",")],
                             properties=props)
            reports = {
                t: scan_dataframe(df, limit=args.limit,
                                  stats_only=args.stats_only)
                for t, df in frames.items()
            }
            write_db_report(reports, args.output, fmt=args.output_format,
                            short=args.short, stats_only=args.stats_only)
            print(f"wrote {args.output}")
        elif args.cmd == "scan-mongodump":
            from metacrafter_spark.io.mongo import scan_mongodump
            from metacrafter_spark.io.sinks import write_db_report

            reports = scan_mongodump(spark, args.dump_dir, dbname=args.db,
                                     limit=args.limit,
                                     stats_only=args.stats_only)
            write_db_report(reports, args.output, fmt=args.output_format,
                            short=args.short, stats_only=args.stats_only)
            print(f"wrote {args.output}")
        elif args.cmd == "scan-bulk":
            from metacrafter_spark.io.sinks import write_db_report
            from metacrafter_spark.io.sources import scan_bulk
            from metacrafter_spark.scanner import scan_dataframe

            frames = scan_bulk(spark, args.dirname)
            reports = {
                path: scan_dataframe(df, limit=args.limit,
                                     stats_only=args.stats_only)
                for path, df in frames.items()
            }
            write_db_report(reports, args.output, fmt=args.output_format,
                            short=args.short, stats_only=args.stats_only)
            print(f"wrote {args.output}")
        elif args.cmd == "dsir":
            from metacrafter_spark.ops.dsir import dsir_resample

            corpus = spark.read.parquet(args.corpus)
            target = spark.read.parquet(args.target)
            sel = dsir_resample(
                corpus, target, args.k, id_col=args.id_col,
                text_col=args.text_col, buckets=args.buckets,
                max_words=args.max_words, seed=args.seed)
            # join back the full rows for the selected ids (the
            # selection frame carries only id/weight/score)
            out = corpus.join(sel.select(args.id_col, "log_weight",
                                         "score"),
                              args.id_col)
            out.write.mode("errorifexists").parquet(args.output)
            n = out.count()
            print(json.dumps({"selected": n, "requested": args.k,
                              "output": args.output}))
        elif args.cmd == "train-lm":
            from metacrafter_spark.corpus.kenlm import (
                train_kn_bigram, train_kn_trigram,
            )
            from metacrafter_spark.corpus.modelstore import save_model

            try:
                from metacrafter_spark.io.iceberg import IcebergTable

                docs = IcebergTable.load(args.input).read(spark)
            except Exception:
                docs = spark.read.parquet(args.input)
            train = train_kn_trigram if args.trigram else train_kn_bigram
            model = train(docs, text_col=args.text_col,
                          vocab_size=args.vocab_size,
                          max_words=args.max_words)
            save_model(model, args.model, overwrite=args.overwrite)
            b = model.consts.first()
            print(json.dumps({
                "model": args.model,
                "order": 3 if args.trigram else 2,
                "vocab_size": args.vocab_size,
                "ngram_types": int(b["B2"] if args.trigram else b["B"]),
            }))
        elif args.cmd == "train-quality":
            from pyspark.sql import functions as F

            from metacrafter_spark.corpus.modelstore import save_model
            from metacrafter_spark.ops.quality_classifier import (
                score_logreg, train_logreg_hashed,
            )

            try:
                from metacrafter_spark.io.iceberg import IcebergTable

                docs = IcebergTable.load(args.input).read(spark)
            except Exception:
                docs = spark.read.parquet(args.input)
            model = train_logreg_hashed(
                docs, label_col=args.label_col, id_col=args.id_col,
                text_col=args.text_col, buckets=args.buckets,
                max_words=args.max_words, iterations=args.iterations,
                lr=args.lr, class_weights=(args.w_neg, args.w_pos),
                binary=args.binary)
            save_model(model, args.model, overwrite=args.overwrite)
            # train accuracy as the sanity readout (the honest metric
            # is held-out — the caller owns the split)
            scored = score_logreg(docs, model, id_col=args.id_col,
                                  text_col=args.text_col)
            acc = (scored.join(
                docs.select(args.id_col,
                            F.col(args.label_col).cast("int").alias("y")),
                args.id_col)
                .agg(F.avg((F.col("pred") == F.col("y"))
                           .cast("double")).alias("a")).first()["a"])
            print(json.dumps({
                "model": args.model, "buckets": args.buckets,
                "iterations": args.iterations,
                "train_accuracy": round(float(acc), 4),
            }))
        elif args.cmd == "train-langid":
            from pyspark.sql import functions as F

            from metacrafter_spark.corpus.langid_ft import (
                predict_langid_ft, train_langid_ft,
            )
            from metacrafter_spark.corpus.modelstore import save_model

            try:
                from metacrafter_spark.io.iceberg import IcebergTable

                docs = IcebergTable.load(args.input).read(spark)
            except Exception:
                docs = spark.read.parquet(args.input)
            model = train_langid_ft(
                docs, label_col=args.label_col, id_col=args.id_col,
                text_col=args.text_col, buckets=args.buckets,
                max_chars=args.max_chars, iterations=args.iterations,
                lr=args.lr, w_pos=args.w_pos)
            save_model(model, args.model, overwrite=args.overwrite)
            pred = predict_langid_ft(docs, model, id_col=args.id_col,
                                     text_col=args.text_col)
            acc = (pred.join(
                docs.select(args.id_col,
                            F.col(args.label_col).alias("__t")),
                args.id_col)
                .agg(F.avg((F.col("pred_lang") == F.col("__t"))
                           .cast("double")).alias("a")).first()["a"])
            print(json.dumps({
                "model": args.model, "classes": len(model.classes),
                "train_accuracy": round(float(acc), 4),
            }))
        elif args.cmd == "dedup":
            docs = spark.read.parquet(args.input)
            if args.containment:
                from metacrafter_spark.ops.dedup import containment_pairs

                pairs = containment_pairs(
                    docs, args.id_col, args.text_col,
                    n=args.ngram, threshold=args.threshold,
                    max_gram_docs=args.max_gram_docs,
                )
            else:
                from metacrafter_spark.ops.dedup import (
                    near_dup_pairs_minhash,
                )

                pairs = near_dup_pairs_minhash(
                    docs, args.id_col, threshold=args.threshold,
                    text_col=args.text_col,
                )
            pairs.write.mode("error").parquet(args.output)
            print(json.dumps({"pairs": spark.read.parquet(args.output).count()}))
        elif args.cmd == "dataset-card":
            from metacrafter_spark.corpus.report import (
                corpus_report, dataset_card,
            )

            try:
                from metacrafter_spark.io.iceberg import IcebergTable

                docs = IcebergTable.load(args.input).read(spark)
            except Exception:
                docs = spark.read.parquet(args.input)
            rep = corpus_report(
                docs, text_col=args.text_col, lang_col=args.lang_col,
                top_domains=args.top_domains)
            payload = json.dumps(dataset_card(rep), indent=2,
                                 sort_keys=True)
            if args.output:
                with open(args.output, "w", encoding="utf8") as fh:
                    fh.write(payload + "\n")
                print(json.dumps({"written": args.output}))
            else:
                print(payload)
        elif args.cmd == "classify-webtables":
            from pyspark.sql import functions as F

            from metacrafter_spark.corpus.webtables import (
                classify_web_table_columns, with_web_table_cells,
            )
            from metacrafter_spark.io.warc import scan_warc_cdx

            if args.rules:
                from metacrafter_spark.rules.model import (
                    load_pack_from_yaml_dir,
                )
                pack = load_pack_from_yaml_dir(args.rules)
            else:
                from metacrafter_spark.rules import load_builtin_pack
                pack = load_builtin_pack()
            from metacrafter_spark.ops.urls import dedup_url_revisits

            # multi-crawl dumps revisit the same URL; the classifier
            # keys column groups on (url, table_idx, col_idx), so two
            # captures of one page would blend their counts — keep the
            # newest capture per canonical URL before harvesting
            pages = dedup_url_revisits(
                scan_warc_cdx(spark, args.cdx_glob, args.warc_dir),
                keep_canon=False)
            cells = with_web_table_cells(pages,
                                         min_rows=args.min_rows)
            out = classify_web_table_columns(
                cells, pack, confidence=args.confidence,
                max_rows_per_col=args.max_rows_per_col)
            out.write.mode("error").parquet(args.output)
            res = spark.read.parquet(args.output)
            stats = res.agg(
                F.count("*").alias("hits"),
                F.countDistinct("url", "table_idx", "col_idx")
                .alias("columns_matched"),
                F.sum(F.col("is_pii").cast("long")).alias("pii_hits"),
            ).first()
            print(json.dumps({
                "hits": stats["hits"],
                "columns_matched": stats["columns_matched"],
                "pii_hits": int(stats["pii_hits"] or 0)}))
        elif args.cmd == "extract-docs":
            from pyspark.sql import functions as F

            from metacrafter_spark.io.office_codec import (
                with_document_text,
            )

            files = (spark.read.format("binaryFile").load(args.input)
                     .select(F.col("path"),
                             F.col("length").alias("n_bytes"),
                             F.col("content")))
            out = with_document_text(
                files, "content", "text", "doc_type",
                strict=args.strict).drop("content")
            out.write.mode("error").parquet(args.output)
            res = spark.read.parquet(args.output)
            stats = res.agg(
                F.count("*").alias("files"),
                F.sum(F.col("text").isNotNull().cast("long"))
                .alias("extracted")).first()
            by_type = {r["doc_type"]: r["n"] for r in
                       res.groupBy("doc_type")
                       .agg(F.count("*").alias("n")).collect()}
            print(json.dumps({"files": stats["files"],
                              "extracted": int(stats["extracted"] or 0),
                              "by_type": by_type}, sort_keys=True))
        elif args.cmd == "para-dedup":
            from pyspark.sql import functions as F

            from metacrafter_spark.ops.dedup import (
                remove_global_dup_paragraphs,
            )

            docs = spark.read.parquet(args.input)
            out = remove_global_dup_paragraphs(
                docs, args.id_col, args.text_col,
                mode=args.mode, min_docs=args.min_docs)
            out.write.mode("error").parquet(args.output)
            stats = (spark.read.parquet(args.output)
                     .agg(F.count(F.lit(1)).alias("docs"),
                          F.sum("n_paras").alias("paras"),
                          F.sum("n_removed").alias("removed"))
                     .first())
            print(json.dumps({"docs": stats["docs"],
                              "paras": int(stats["paras"] or 0),
                              "removed": int(stats["removed"] or 0)}))
        elif args.cmd == "sketch-distinct":
            from pyspark.sql import functions as F

            from metacrafter_spark.corpus.resume import (
                advance_key_store, read_key_store)
            from metacrafter_spark.ops.sketches import (
                hll_estimate, hll_merge, hll_registers)

            df = spark.read.parquet(args.input)
            batch = hll_registers(df, args.col, p=args.p)
            prior = read_key_store(spark, args.store) if args.store else None
            if prior is not None:
                bad = prior.filter(F.col("p") != args.p).count()
                if bad:
                    raise SystemExit(
                        f"store was built at a different precision than "
                        f"--p {args.p}; registers cannot be merged")
                total = hll_merge(batch, prior.select("bucket", "reg"))
            else:
                total = batch
            def _est(regs):
                r = hll_estimate(regs, p=args.p).first()
                return (float(r["est_distinct"]), int(r["n_buckets_set"]),
                        bool(r["lc_used"]))
            b_est, b_nb, b_lc = _est(batch)
            t_est, t_nb, t_lc = (b_est, b_nb, b_lc) if prior is None \
                else _est(total)
            if args.store:
                advance_key_store(
                    total.select(F.lit(args.p).alias("p"), "bucket", "reg"),
                    args.store)
            print(json.dumps({
                "p": args.p,
                "batch_distinct_est": b_est,
                "total_distinct_est": t_est,
                "n_buckets_set": t_nb,
                "lc_used": t_lc,
                "store_advanced": bool(args.store),
            }))
        elif args.cmd == "sketch-overlap":
            from pyspark.sql import functions as F

            from metacrafter_spark.corpus.resume import (
                advance_key_store, read_key_store)
            from metacrafter_spark.ops.sketches import (
                kmv_estimate_distinct, kmv_jaccard, kmv_merge, kmv_sketch)

            if bool(args.input_b) == bool(args.store):
                raise SystemExit(
                    "pass exactly one of: a second input, or --store")
            sa = kmv_sketch(spark.read.parquet(args.input_a), args.col,
                            k=args.k)
            if args.store:
                prior = read_key_store(spark, args.store)
                if prior is not None:
                    bad = prior.filter(F.col("k") != args.k).count()
                    if bad:
                        raise SystemExit(
                            f"store was built at a different sketch "
                            f"size than --k {args.k}")
                    sb = prior.select("h")
                else:
                    # first dump: overlap vs the empty corpus is 0;
                    # seed the store below
                    sb = sa.limit(0)
            else:
                sb = kmv_sketch(spark.read.parquet(args.input_b),
                                args.col, k=args.k)
            merged = kmv_merge(sa, sb, k=args.k)
            j = kmv_jaccard(sa, sb, k=args.k).first()
            u = kmv_estimate_distinct(merged, k=args.k).first()
            jac = (float(j["jaccard"])
                   if j["n_union_sample"] else 0.0)
            union_est = float(u["est_distinct"])
            if args.store:
                advance_key_store(
                    merged.select(F.lit(args.k).alias("k"), "h"),
                    args.store)
            print(json.dumps({
                "k": args.k,
                "jaccard": jac,
                "union_distinct_est": union_est,
                "intersection_est": round(jac * union_est, 1),
                "union_exact": bool(u["exact"]),
                "store_advanced": bool(args.store),
            }))
        elif args.cmd == "pagerank":
            from pyspark.sql import functions as F

            from metacrafter_spark.ops.linkgraph import pagerank

            edges = spark.read.parquet(args.edges).select("src", "dst")
            if args.domains:
                from metacrafter_spark.ops.linkgraph import domain_edges

                edges = domain_edges(edges)
            ranks = pagerank(
                edges.distinct(), iterations=args.iterations,
                damping=args.damping,
                checkpoint_every=args.checkpoint_every)
            ranks.write.mode("error").parquet(args.output)
            got = spark.read.parquet(args.output)
            print(json.dumps({
                "nodes": got.count(),
                "iterations": args.iterations}))
        elif args.cmd == "decontaminate":
            from metacrafter_spark.ops.decontam import decontaminate

            corpus = spark.read.parquet(args.corpus)
            bench = spark.read.parquet(args.benchmark)
            out = decontaminate(
                corpus, bench, args.id_col, args.text_col,
                n=args.ngram, min_hits=args.min_hits,
            )
            out.write.mode("error").parquet(args.output)
            got = spark.read.parquet(args.output)
            from pyspark.sql import functions as F
            n_bad = got.filter(F.col("contaminated")).count()
            print(json.dumps({"docs": got.count(), "contaminated": n_bad}))
        elif args.cmd == "sample":
            from metacrafter_spark.ops.sampling import (
                budget_mix, hash_sample, stratified_quota_sample,
            )

            src = spark.read.parquet(args.input)
            if args.fraction is not None:
                out = hash_sample(src, args.id_col, args.fraction, args.seed)
            elif args.quota is not None:
                if not args.strata_col:
                    p.error("--quota requires --strata-col")
                out = stratified_quota_sample(
                    src, args.strata_col, args.id_col, args.quota, args.seed)
            elif args.budget is not None:
                if not (args.strata_col and args.weight_col):
                    p.error("--budget requires --strata-col and --weight-col")
                out = budget_mix(src, args.strata_col, args.id_col,
                                 args.weight_col, args.budget, args.seed)
            else:
                p.error("one of --fraction / --quota / --budget is required")
            out.write.mode("error").parquet(args.output)
            print(json.dumps({"rows": spark.read.parquet(args.output).count()}))
        elif args.cmd == "compact":
            from metacrafter_spark.io.compaction import compact_parquet

            sort_cols = (args.sort_cols.split(",") if args.sort_cols else None)
            zorder_cols = (args.zorder_cols.split(",")
                           if args.zorder_cols else None)
            res = compact_parquet(spark, args.src, args.dst,
                                  target_file_mb=args.target_mb,
                                  sort_cols=sort_cols,
                                  zorder_cols=zorder_cols)
            print(json.dumps(res))
        elif args.cmd == "serve":
            from metacrafter_spark.server import make_server

            srv = make_server(spark, host=args.host, port=args.port)
            print(f"serving on http://{args.host}:{srv.server_address[1]}"
                  "/api/v1/scan_data")
            srv.serve_forever()
        elif args.cmd == "warc-ingest" and args.stream:
            from pyspark.sql import functions as F

            from metacrafter_spark.corpus.streaming import stream_warc_ingest
            from metacrafter_spark.io.iceberg import PyIcebergTableIO

            if args.plain_parquet:
                raise SystemExit(
                    "--stream commits through the Iceberg layer's "
                    "partition swaps; --plain-parquet applies to batch "
                    "mode only")
            if args.para_dedup_store or args.minhash_store \
                    or args.url_hll_store or args.url_bloom_store:
                raise SystemExit(
                    "--para-dedup-store/--minhash-store/--url-hll-store/"
                    "--url-bloom-store "
                    "apply to batch mode only: a store advances once "
                    "per successfully ingested dump, not per "
                    "micro-batch")
            if args.outlinks:
                raise SystemExit(
                    "--outlinks applies to batch mode only (a stream "
                    "would need an edges sink per micro-batch); run a "
                    "batch pass or extract edges from the committed "
                    "corpus table")
            if args.drop_noindex:
                raise SystemExit(
                    "--drop-noindex applies to batch mode only for "
                    "now; run a batch pass")
            if args.kenlm_ppl_max is not None and not args.kenlm_model:
                raise SystemExit("--kenlm-ppl-max needs --kenlm-model")
            if args.quality_min_p is not None and not args.quality_model:
                raise SystemExit("--quality-min-p needs --quality-model")
            model_kw = {}
            if args.kenlm_model or args.quality_model \
                    or args.langid_model:
                from metacrafter_spark.corpus.modelstore import load_model

                if args.kenlm_model:
                    model_kw["kenlm_model"] = load_model(
                        spark, args.kenlm_model)
                    model_kw["kenlm_ppl_max"] = args.kenlm_ppl_max
                if args.quality_model:
                    model_kw["quality_model"] = load_model(
                        spark, args.quality_model)
                    model_kw["quality_min_p"] = args.quality_min_p
                if args.langid_model:
                    model_kw["langid_model"] = load_model(
                        spark, args.langid_model)
            wl = (tuple(w.strip()
                        for w in args.toxicity_wordlist.split(","))
                  if args.toxicity_wordlist else None)
            stream_warc_ingest(spark, args.cdx_glob, args.warc_dir,
                               args.output, args.metrics, args.stream,
                               n_buckets=args.buckets,
                               toxicity_wordlist=wl,
                               fix_mojibake=args.fix_mojibake,
                               **model_kw)
            # one scan for the cumulative summary (the stream's own
            # per-run counts live in the metrics table per batch)
            row = PyIcebergTableIO(spark).read(args.output).agg(
                F.count("*").alias("n"),
                F.sum(F.col("keep").cast("long")).alias("k")).first()
            print(json.dumps({"table_total": row["n"],
                              "kept_total": int(row["k"] or 0)}))
        elif args.cmd == "warc-ingest":
            if args.kenlm_ppl_max is not None and not args.kenlm_model:
                raise SystemExit("--kenlm-ppl-max needs --kenlm-model")
            if args.quality_min_p is not None and not args.quality_model:
                raise SystemExit("--quality-min-p needs --quality-model")
            if args.main_text and args.doc_attachments:
                raise SystemExit(
                    "--main-text is html-only; it cannot combine with "
                    "--doc-attachments")
            from pyspark.sql import functions as F

            from metacrafter_spark.corpus.html import with_extracted_text
            from metacrafter_spark.corpus.pipeline import classify_corpus
            from metacrafter_spark.corpus.resume import (
                TableIO, pending_input, run_with_resume,
            )
            from metacrafter_spark.io.iceberg import PyIcebergTableIO
            from metacrafter_spark.io.warc import scan_warc_cdx

            pages = scan_warc_cdx(spark, args.cdx_glob, args.warc_dir)
            n_edges = None
            if args.outlinks:
                phase("warc-ingest: outlinks")
                # edge extraction runs on the RAW scan frame — before
                # the mapInPandas text extraction attaches, so the
                # edges write never re-executes that Python stage
                from metacrafter_spark.corpus.html import with_outlinks
                from metacrafter_spark.ops.linkgraph import page_link_edges

                page_link_edges(with_outlinks(pages, "html", "url")) \
                    .write.mode("overwrite").parquet(args.outlinks)
                n_edges = spark.read.parquet(args.outlinks).count()
            # crawl-policy columns ride along only when requested
            policy_cols = ("x_robots",) if args.drop_noindex else ()
            if args.main_text:
                from metacrafter_spark.corpus.html import with_main_text

                pages = with_extracted_text(pages, "html", "text_raw")
                pages = with_main_text(pages, "html", "text")
                src = pages.select(
                    "url", "warc_ts", "html", "text", "text_raw",
                    *policy_cols, F.lit("").alias("lang"))
            elif args.doc_attachments:
                from metacrafter_spark.io.office_codec import (
                    with_document_text,
                )

                pages = with_document_text(pages, "html", "text",
                                           "payload_type",
                                           mime_col="mime")
                src = pages.select(
                    "url", "warc_ts", "html", "text", "payload_type",
                    *policy_cols, F.lit("").alias("lang"))
            else:
                pages = with_extracted_text(pages, "html", "text")
                src = pages.select(
                    "url", "warc_ts", "html", "text",
                    *policy_cols, F.lit("").alias("lang"))
            wl = (tuple(w.strip()
                        for w in args.toxicity_wordlist.split(","))
                  if args.toxicity_wordlist else None)
            kw = {} if args.buckets is None else \
                {"n_buckets": args.buckets}
            if args.fix_mojibake:
                kw["fix_mojibake"] = True
            if args.kenlm_model:
                from metacrafter_spark.corpus.modelstore import load_model

                kw["kenlm_model"] = load_model(spark, args.kenlm_model)
                if args.kenlm_ppl_max is not None:
                    kw["kenlm_ppl_max"] = args.kenlm_ppl_max
            if args.quality_model:
                from metacrafter_spark.corpus.modelstore import load_model

                kw["quality_model"] = load_model(spark,
                                                 args.quality_model)
                if args.quality_min_p is not None:
                    kw["quality_min_p"] = args.quality_min_p
            if args.langid_model:
                from metacrafter_spark.corpus.modelstore import load_model

                kw["langid_model"] = load_model(spark, args.langid_model)
            if args.drop_noindex:
                kw["drop_noindex"] = True
                kw["robots_header_col"] = "x_robots"
            if args.robots_from_crawl:
                from metacrafter_spark.corpus.robots import (
                    parse_robots_txt, robots_from_corpus)

                kw["robots_rules"] = parse_robots_txt(
                    robots_from_corpus(src), agent=args.robots_agent)
                src = src.filter(~F.col("url").rlike(
                    r"(?i)^https?://[^/?#]+/robots\.txt$"))
            from metacrafter_spark.corpus.resume import (
                advance_key_store, read_key_store,
            )

            phase("warc-ingest: read stores")
            bloom_prior = None
            if args.url_bloom_store:
                from metacrafter_spark.ops.sketches import bloom_contains
                from metacrafter_spark.ops.urls import canonicalize_url

                bloom_prior = read_key_store(spark, args.url_bloom_store)
                if bloom_prior is not None:
                    bad = bloom_prior.filter(
                        (F.col("m_bits") != args.bloom_bits)
                        | (F.col("k") != args.bloom_hashes)).count()
                    if bad:
                        raise SystemExit(
                            "--url-bloom-store was built with different "
                            "--bloom-bits/--bloom-hashes; Bloom filters "
                            "with different parameters cannot be merged")
                    # k broadcast joins — the page stream never shuffles
                    src = bloom_contains(
                        src.withColumn(
                            "__curl", canonicalize_url("url")),
                        "__curl",
                        bloom_prior.select("word", "bits"),
                        m_bits=args.bloom_bits, k=args.bloom_hashes,
                        out_col="url_revisit").drop("__curl")
                else:
                    src = src.withColumn("url_revisit", F.lit(False))
                kw["url_seen_col"] = "url_revisit"

            nd_counts = None
            if args.minhash_store:
                from metacrafter_spark.ops.dedup import (
                    incremental_keep_decisions, sha_minhash_signatures,
                )

                prior = read_key_store(spark, args.minhash_store)
                if prior is None:
                    prior = spark.createDataFrame(
                        [], "url string, sig array<string>")
                # one row per page: keep + dup provenance counts (the
                # decisions frame is eagerly checkpointed, so the WARC
                # scan behind it runs once here)
                phase("warc-ingest: near-dup decisions")
                dec = incremental_keep_decisions(src, prior, "url")
                nd_counts = dec.agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum((~F.col("keep")).cast("long")).alias("d"),
                ).first()
                # near-dups are MARKED, not removed: classify_corpus
                # turns nd_dup into drop_reason='near_dup', so the
                # corpus table keeps full lineage and kept_total
                # reflects the dedup
                src = src.join(
                    dec.select(
                        "url", (~F.col("keep")).alias("nd_dup"),
                        F.col("n_prior_dups").alias("nd_prior_dups"),
                        F.col("n_new_dups").alias("nd_new_dups")),
                    "url")
                kw["near_dup_col"] = "nd_dup"
                # the store remembers only SURVIVORS: a future dup of a
                # dropped page still matches the page it duplicated
                minhash_new_store = prior.unionByName(
                    sha_minhash_signatures(
                        src.filter(~F.col("nd_dup")), "url"))

            winners = None
            if args.para_dedup_store:
                from pyspark import StorageLevel

                from metacrafter_spark.ops.dedup import (
                    incremental_para_dedup,
                )
                from metacrafter_spark.util import with_sql_columns

                phase("warc-ingest: read stores")
                seen = read_key_store(spark, args.para_dedup_store)
                deduped = incremental_para_dedup(
                    src, seen, id_col="url", text_col="text")
                # one row per batch key not yet stored: persisted so
                # the output write fills the cache and the store
                # advance reads it, never rescanning the batch
                winners = deduped.winners.persist(
                    StorageLevel.MEMORY_AND_DISK)
                src = with_sql_columns(
                    deduped, {"text": "text_dedup"},
                ).drop("text_dedup").withColumnsRenamed(
                    {"n_paras": "para_n", "n_removed": "para_removed"})
                new_keys = winners.selectExpr("__h AS key")
                # disjoint from the store (anti-join) and distinct
                # (group-by), so the union needs no distinct()
                para_new_store = (seen.unionByName(new_keys)
                                  if seen is not None else new_keys)

            classified = classify_corpus(src, toxicity_wordlist=wl, **kw)
            # persisted by the model stages (None without them); the
            # written table is all that is read after the write
            score_cache = classified.score_cache
            io = (TableIO(spark) if args.plain_parquet
                  else PyIcebergTableIO(spark))
            if args.resume:
                classified = pending_input(classified, io, args.metrics)
            # the pure-Python Iceberg layer is scalar-typed: expand the
            # pii_hits struct to per-rule count columns for the write
            from metacrafter_spark.io.iceberg import flatten_struct_columns
            classified = flatten_struct_columns(classified)
            sums = ("para_removed",) if winners is not None else ()
            try:
                try:
                    totals = run_with_resume(
                        classified, io, args.output, args.metrics,
                        sums=sums, label="warc-ingest")
                finally:
                    if score_cache is not None:
                        score_cache.unpersist(blocking=False)
                summary = {"processed": totals["processed"],
                           "kept_total": totals["kept_total"]}
                if n_edges is not None:
                    summary["edges"] = n_edges
                if nd_counts is not None:
                    # near-dup store advances only after a successful
                    # ingest: a crashed run re-dedups against the OLD
                    # store and the resume anti-join prevents
                    # duplicate writes
                    phase("warc-ingest: advance minhash store")
                    advance_key_store(minhash_new_store,
                                      args.minhash_store)
                    summary["minhash_seen"] = int(nd_counts["n"] or 0)
                    summary["minhash_dropped"] = int(nd_counts["d"] or 0)
                if winners is not None:
                    # same contract for the paragraph-key store
                    phase("warc-ingest: advance para store")
                    advance_key_store(para_new_store,
                                      args.para_dedup_store)
                    summary["para_removed"] = totals["para_removed"]
            finally:
                if winners is not None:
                    winners.unpersist(blocking=False)
            if args.url_hll_store:
                from metacrafter_spark.ops.sketches import (
                    hll_estimate, hll_merge, hll_registers)
                from metacrafter_spark.ops.urls import canonicalize_url

                phase("warc-ingest: hll")
                # sketch from the WRITTEN table, not the lazy plan:
                # once a store advanced (para/minhash above), the plan's
                # lineage still references the REPLACED store files and
                # a re-execution here would fail (or silently re-dedup
                # against a different store state)
                batch_regs = hll_registers(
                    io.read(args.output).select(
                        canonicalize_url("url").alias("__cu")),
                    "__cu", p=12)
                hll_prior = read_key_store(spark, args.url_hll_store)
                if hll_prior is not None:
                    total_regs = hll_merge(
                        batch_regs, hll_prior.select("bucket", "reg"))
                else:
                    total_regs = batch_regs
                # advance only after the successful ingest above; the
                # register max-merge is idempotent, so a crashed run's
                # partial progress cannot double-count URLs
                advance_key_store(
                    total_regs.select(F.lit(12).alias("p"),
                                      "bucket", "reg"),
                    args.url_hll_store)
                est = hll_estimate(
                    read_key_store(spark, args.url_hll_store)
                    .select("bucket", "reg"), p=12).first()
                summary["url_distinct_est"] = float(est["est_distinct"])
            if args.url_bloom_store:
                from metacrafter_spark.ops.sketches import (
                    bloom_merge, bloom_sketch)
                from metacrafter_spark.ops.urls import canonicalize_url

                phase("warc-ingest: bloom")
                # from the WRITTEN table — same store-replacement
                # lineage hazard as the HLL branch above
                batch_bloom = bloom_sketch(
                    io.read(args.output).select(
                        canonicalize_url("url").alias("__cu")),
                    "__cu", m_bits=args.bloom_bits, k=args.bloom_hashes)
                new_bloom = (bloom_merge(
                    bloom_prior.select("word", "bits"), batch_bloom)
                    if bloom_prior is not None else batch_bloom)
                # advance only after the successful ingest above; the
                # bit_or merge is idempotent, so a crashed run's
                # partial progress cannot corrupt the filter
                advance_key_store(
                    new_bloom.select(
                        F.lit(args.bloom_bits).cast("long").alias("m_bits"),
                        F.lit(args.bloom_hashes).cast("int").alias("k"),
                        "word", "bits"),
                    args.url_bloom_store)
                summary["url_revisits_total"] = int(
                    io.read(args.output)
                    .filter(F.col("drop_reason") == "url_revisit").count())
            print(json.dumps(summary))
        else:
            from metacrafter_spark.corpus.pipeline import classify_corpus
            from metacrafter_spark.corpus.resume import (
                TableIO, pending_input, run_with_resume,
            )

            src = spark.read.parquet(args.input)
            wl = (tuple(w.strip() for w in args.toxicity_wordlist.split(","))
                  if args.toxicity_wordlist else None)
            classified = classify_corpus(src, toxicity_wordlist=wl)
            io = TableIO(spark)
            if args.resume:
                classified = pending_input(classified, io, args.metrics)
            print(json.dumps(run_with_resume(
                classified, io, args.output, args.metrics,
                label="corpus-run")))
        return 0
    finally:
        if preexisting:  # don't kill a caller-owned session
            spark.sparkContext.setJobDescription(caller_job)
        else:
            spark.stop()


if __name__ == "__main__":
    sys.exit(main())
