"""Corpus-wide paragraph dedup (ops/dedup.py::remove_global_dup_paragraphs,
the CCNet §3.1 recipe — cross-document twin of with_dedup_paragraphs)."""

import pytest
from pyspark.sql import functions as F

from metacrafter_spark.ops.dedup import remove_global_dup_paragraphs

BOILER = "Subscribe to our NEWSLETTER today."
BOILER_VARIANT = "subscribe   to our newsletter, today!!"  # same key


def _corpus(spark):
    rows = [
        (0, f"{BOILER}\n\nunique zero body text."),
        (1, f"unique one body text.\n\n{BOILER}"),
        # same-key variant (case/punct differ) — must dedup with BOILER
        (2, f"{BOILER_VARIANT}\n\nunique two body text."),
        # within-doc repeat of its own paragraph
        (3, "repeat me.\n\nrepeat me.\n\nunique three."),
        # punctuation-only paragraph: layout, never deduped
        (4, "---\n\nunique four.\n\n---"),
        (5, "wholly unique document five."),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _by_id(df):
    return {r["doc_id"]: r for r in df.collect()}


def test_keep_first_survivor_is_min_doc_and_idx(spark):
    got = _by_id(remove_global_dup_paragraphs(_corpus(spark)))
    # doc 0 holds the minimal (id, idx) occurrence of the boilerplate key
    assert got[0]["text_dedup"] == f"{BOILER}\n\nunique zero body text."
    assert got[0]["n_removed"] == 0
    # docs 1 and 2 lose it — and keep their ORIGINAL bytes elsewhere
    assert got[1]["text_dedup"] == "unique one body text."
    assert got[1]["n_removed"] == 1
    assert got[2]["text_dedup"] == "unique two body text."
    # within-doc second occurrence drops too
    assert got[3]["text_dedup"] == "repeat me.\n\nunique three."
    assert got[3]["n_removed"] == 1
    # layout paragraphs survive everywhere (both of them)
    assert got[4]["text_dedup"] == "---\n\nunique four.\n\n---"
    assert got[4]["n_removed"] == 0
    assert got[5]["text_dedup"] == "wholly unique document five."
    assert got[5]["n_paras"] == 1 and got[5]["n_removed"] == 0


def test_drop_common_removes_all_occurrences(spark):
    got = _by_id(remove_global_dup_paragraphs(
        _corpus(spark), mode="drop_common", min_docs=3))
    # boilerplate key appears in 3 distinct docs (0, 1, 2): gone from ALL
    assert got[0]["text_dedup"] == "unique zero body text."
    assert got[1]["text_dedup"] == "unique one body text."
    assert got[2]["text_dedup"] == "unique two body text."
    # within-doc repeat is 1 distinct doc < 3: untouched in this mode
    assert got[3]["text_dedup"] == "repeat me.\n\nrepeat me.\n\nunique three."


def test_partitioning_determinism(spark):
    base = remove_global_dup_paragraphs(_corpus(spark)).collect()
    again = remove_global_dup_paragraphs(
        _corpus(spark).repartition(7)).collect()
    key = lambda rows: sorted((r["doc_id"], r["text_dedup"],
                               r["n_paras"], r["n_removed"]) for r in rows)
    assert key(base) == key(again)


def test_non_ascii_boilerplate_dedups_on_exact_bytes(spark):
    ru = "Подпишитесь на нашу рассылку."
    rows = [(0, f"{ru}\n\nуникальный текст ноль."),
            (1, f"уникальный текст один.\n\n{ru}"),
            # NOT the same bytes (different word) — must survive
            (2, "Подпишитесь на нашу газету.\n\nдва.")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = _by_id(remove_global_dup_paragraphs(df))
    assert got[0]["n_removed"] == 0
    assert got[1]["text_dedup"] == "уникальный текст один."
    assert got[2]["n_removed"] == 0


def test_null_text_passes_through(spark):
    rows = [(0, f"{BOILER}\n\nzero."), (1, None), (2, f"{BOILER}\n\ntwo.")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = _by_id(remove_global_dup_paragraphs(df))
    assert got[1]["text_dedup"] is None
    assert got[1]["n_paras"] == 0 and got[1]["n_removed"] == 0
    assert got[2]["text_dedup"] == "two."


def test_bad_mode_raises(spark):
    with pytest.raises(ValueError, match="unknown mode"):
        remove_global_dup_paragraphs(_corpus(spark), mode="nope")


def test_cli_para_dedup(spark, tmp_path):
    from metacrafter_spark.cli import main

    src = str(tmp_path / "in")
    _corpus(spark).write.parquet(src)
    out = str(tmp_path / "out")
    rc = main(["para-dedup", src, out, "--mode", "drop_common",
               "--min-docs", "3"])
    assert rc == 0
    got = _by_id(spark.read.parquet(out))
    assert got[1]["text_dedup"] == "unique one body text."
    assert sum(r["n_removed"] for r in got.values()) == 3


def test_para_norm_cross_engine_differential(spark):
    """The normalization key must be bit-identical in Spark (Java
    regex + translate) and DuckDB (RE2 + translate) — the oracle's
    byte-exactness rests on it.  200 adversarial strings: mixed-case
    ASCII, every ASCII punctuation/control char, multi-script text,
    combining marks, emoji, and boundary whitespace."""
    import random

    import duckdb

    from metacrafter_spark.ops.dedup import _para_norm

    rng = random.Random(42)
    pool = (
        [chr(c) for c in range(0x20, 0x7F)]
        + list("\t\n\r\x0b\x0c")
        + list("ÄéßÑçàύЖщあ漢字한글مرحبااनमस्ते")
        + ["é", "‍", "🙂", "№", "—"]
    )
    samples = ["".join(rng.choice(pool) for _ in range(rng.randint(0, 60)))
               for _ in range(200)] + ["", " ", "A-B", "ABC abc",
                                       "\x00ctl\x7f", "«½»"]
    df = spark.createDataFrame([(i, s) for i, s in enumerate(samples)],
                               "i long, s string")
    got_spark = [r["k"] for r in
                 df.select("i", F.expr(_para_norm("s")).alias("k"))
                 .orderBy("i").collect()]
    con = duckdb.connect()
    got_duck = [
        con.execute(
            "SELECT trim(regexp_replace(translate(?, "
            "'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), "
            r"'[\x00-\x2f\x3a-\x40\x5b-\x60\x7b-\x7f]+', ' ', 'g'))",
            [s]).fetchone()[0]
        for s in samples
    ]
    assert got_spark == got_duck


def test_incremental_para_dedup_across_dumps(spark):
    from metacrafter_spark.ops.dedup import (
        incremental_para_dedup, para_keys,
    )

    wave1 = spark.createDataFrame(
        [(0, f"{BOILER}\n\nwave one zero."),
         (1, f"wave one one.\n\n{BOILER}")],
        "doc_id long, text string")
    # first dump: reduces to the batch op
    got1 = _by_id(incremental_para_dedup(wave1, None))
    assert got1[0]["text_dedup"] == f"{BOILER}\n\nwave one zero."
    assert got1[1]["text_dedup"] == "wave one one."
    keys1 = para_keys(wave1)

    wave2 = spark.createDataFrame(
        # 10: boilerplate ALREADY SEEN in wave1 — drops even though it
        # is this batch's first occurrence; own new dup follows the
        # in-batch keep-first rule
        [(10, f"{BOILER}\n\nfresh paragraph."),
         (11, "fresh paragraph.\n\nwave two only."),
         # same-key variant of a wave1 paragraph — also already seen
         (12, BOILER_VARIANT)],
        "doc_id long, text string")
    got2 = _by_id(incremental_para_dedup(wave2, keys1))
    assert got2[10]["text_dedup"] == "fresh paragraph."
    assert got2[10]["n_removed"] == 1
    assert got2[11]["text_dedup"] == "wave two only."
    assert got2[12]["text_dedup"] == "" and got2[12]["n_removed"] == 1

    # store update: wave2's keys union in; a wave-3 repeat of
    # "fresh paragraph." must now drop everywhere
    keys2 = keys1.unionByName(para_keys(wave2)).distinct()
    wave3 = spark.createDataFrame(
        [(20, "fresh paragraph.\n\nwave three.")],
        "doc_id long, text string")
    got3 = _by_id(incremental_para_dedup(wave3, keys2))
    assert got3[20]["text_dedup"] == "wave three."

    # determinism across partitioning
    again = _by_id(incremental_para_dedup(
        wave2.repartition(5), keys1.repartition(3)))
    assert {k: (v["text_dedup"], v["n_removed"]) for k, v in got2.items()} \
        == {k: (v["text_dedup"], v["n_removed"]) for k, v in again.items()}
