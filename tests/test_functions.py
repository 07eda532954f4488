"""Unit tests: fused signature kernel vs its unblocked reference, MinHash
estimate accuracy, SimHash monotonicity, synth determinism, turn
reassembly."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from datasketches_server_spark.config import MinHashConfig
from datasketches_server_spark.functions.signatures import (
    DEFAULT_TOKEN_PATTERN,
    _batch_signatures,
    _batch_text_signatures,
    _perm_params,
    exact_jaccard,
    minhash_jaccard,
    simhash_hamming,
    text_signature_udf,
)
from datasketches_server_spark.sources.synth import (
    synth_transcripts,
    transcripts_from_documents,
)


def test_shingle_count_and_distinctness(spark):
    df = spark.createDataFrame(
        [("a", "one two three four five"), ("b", "x y"), ("c", "w w w w w w")],
        ["conv_id", "text"],
    )
    for pattern, lowercase in ((DEFAULT_TOKEN_PATTERN, True), ("[A-Za-z0-9]+", False)):
        sig = text_signature_udf(3, MinHashConfig(), pattern, lowercase)
        out = {
            r["conv_id"]: r["sh"]
            for r in df.select("conv_id", sig(F.col("text")).shingles.alias("sh")).collect()
        }
        assert len(out["a"]) == 3  # 5 tokens, k=3 -> 3 windows
        assert len(out["b"]) == 1  # shorter than k -> whole text
        assert len(out["c"]) == 1  # identical windows dedupe


def test_minhash_estimates_jaccard():
    a, b = _perm_params(128, 42)
    rng = np.random.default_rng(0)
    base = rng.integers(-(2**60), 2**60, size=1000)
    half = np.concatenate([base[:500], rng.integers(-(2**60), 2**60, size=500)])
    sigs = _batch_signatures(pd.Series([list(base), list(half), list(base)]), a, b, 64)
    m0, m1, m2 = (np.array(sigs["minhash"][i]) for i in range(3))
    est = (m0 == m1).mean()
    true_j = 500 / 1500
    assert abs(est - true_j) < 0.12
    assert (m0 == m2).all()  # identical sets -> identical signatures
    assert sigs["simhash"][0] == sigs["simhash"][2]


def test_fused_kernel_matches_reference():
    """The cache-blocked fused kernel equals the unblocked reference bit
    for bit, on a batch spanning several BLOCK_SH row blocks, through
    both tokenizer paths (bytes-level default and pandas-regex custom)."""
    a, b = _perm_params(128, 42)
    rng = np.random.default_rng(3)
    vocab = np.array([f"w{i}" for i in range(400)] + [f"W{i}x" for i in range(100)])
    texts = [" ".join(rng.choice(vocab, size=int(rng.integers(0, 3000)))) for _ in range(200)]
    texts += ["", "One", "a\nb c"]
    for pattern, lowercase in ((DEFAULT_TOKEN_PATTERN, True), ("[A-Za-z0-9]+", False)):
        out = _batch_text_signatures(pd.Series(texts), 5, a, b, 64, pattern, lowercase)
        assert sum(len(s) for s in out["shingles"]) > 4 * 8192  # several row blocks
        want = _batch_signatures(out["shingles"], a, b, 64)
        assert np.array_equal(np.stack(out["minhash"]), np.stack(want["minhash"]))
        assert np.array_equal(out["simhash"].to_numpy(), want["simhash"].to_numpy())


def test_signature_udf_matches_local(spark):
    """The Spark signature UDF returns what the local reference computes
    on the same shingles."""
    df = spark.createDataFrame(
        pd.DataFrame({"text": ["one two three four five six", "four five six seven eight"]})
    )
    got = df.select(text_signature_udf(4)(F.col("text")).alias("s")).collect()
    a, b = _perm_params(128, 42)
    want = _batch_signatures(pd.Series([list(r["s"]["shingles"]) for r in got]), a, b, 64)
    for i, r in enumerate(got):
        assert list(r["s"]["minhash"]) == list(want["minhash"][i])
        assert r["s"]["simhash"] == want["simhash"][i]


def test_jaccard_and_hamming_columns(spark):
    df = spark.createDataFrame(
        [(list(range(10)), list(range(5)) + list(range(15, 20)), 0b1010, 0b0110)],
        ["sa", "sb", "ha", "hb"],
    )
    row = df.select(
        exact_jaccard(F.col("sa"), F.col("sb")).alias("j"),
        minhash_jaccard(F.col("sa"), F.col("sb")).alias("mj"),
        simhash_hamming(F.col("ha"), F.col("hb")).alias("d"),
    ).collect()[0]
    assert row["j"] == pytest.approx(5 / 15)
    assert row["mj"] == pytest.approx(0.5)  # positions 5..9 agree
    assert row["d"] == 2


def test_synth_deterministic_and_schema(spark):
    t1 = synth_transcripts(spark, n_convs=50, seed=42)
    t2 = synth_transcripts(spark, n_convs=50, seed=42)
    assert t1.schema == t2.schema
    assert [f.name for f in t1.schema.fields] == ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    assert t1.exceptAll(t2).count() == 0 and t2.exceptAll(t1).count() == 0
    # planted dups exist: at least one pair of identical full texts
    from datasketches_server_spark.functions.text import assemble_conversations

    convs = assemble_conversations(t1)
    n_dupes = convs.groupBy("full_text").count().where(F.col("count") > 1).count()
    assert n_dupes > 0


def test_per_turn_text_equality_invariant(spark, sf_dir):
    """Reassembling turns in stable (conv_id, turn_idx) order restores the
    source document text exactly (BASELINE.json input_hint invariant)."""
    t = transcripts_from_documents(spark, sf_dir)
    from datasketches_server_spark.functions.text import assemble_conversations

    convs = assemble_conversations(t)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("conv_id"), "text"
    )
    bad = convs.join(docs, "conv_id").where(F.col("full_text") != F.col("text")).count()
    assert bad == 0


def test_shingle_config_plumbs_through_pipeline(spark):
    """ADVICE fix: cfg.shingle.token_pattern and lowercase must actually
    change the signatures (they feed config_hash, so they must feed the
    UDF too)."""
    from datasketches_server_spark.config import PipelineConfig, ShingleConfig
    from datasketches_server_spark.plans.pipeline import conv_signatures

    t = spark.createDataFrame(
        [("c1", 0, "user", "Alpha BETA 42 gamma delta epsilon zeta", None, None)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    base = conv_signatures(t, PipelineConfig(shingle=ShingleConfig(k=3))).collect()[0]
    no_digits = conv_signatures(
        t, PipelineConfig(shingle=ShingleConfig(k=3, token_pattern="[a-z]+"))
    ).collect()[0]
    assert list(base["shingles"]) != list(no_digits["shingles"])
    case_sensitive = conv_signatures(
        t, PipelineConfig(shingle=ShingleConfig(k=3, token_pattern="[A-Za-z0-9]+", lowercase=False))
    ).collect()[0]
    assert list(base["shingles"]) != list(case_sensitive["shingles"])
    # and the three configs hash differently (lineage invalidation)
    hashes = {
        PipelineConfig(shingle=s).config_hash()
        for s in (
            ShingleConfig(k=3),
            ShingleConfig(k=3, token_pattern="[a-z]+"),
            ShingleConfig(k=3, token_pattern="[A-Za-z0-9]+", lowercase=False),
        )
    }
    assert len(hashes) == 3


def test_portable_sql_twins_bit_equal(spark):
    """functions/portable.py contract: every *_sql twin emits bit-identical
    values to its Column builder, including NEGATIVE inputs (DuckDB's %
    is sign-preserving; the twins must wrap like F.pmod)."""
    import duckdb

    from datasketches_server_spark.functions.portable import (
        md5_long60,
        md5_long60_sql,
        mix31,
        mix31_sql,
        u01,
        u01_sql,
    )

    vals = [-(2**40) - 7, -12345, -1, 0, 1, 7, 2**31, 2**45 + 3]
    df = spark.createDataFrame([(v,) for v in vals], "x long")
    got = df.select(
        mix31(F.col("x")).alias("m"),
        md5_long60(F.col("x")).alias("h"),
        u01(F.col("x"), salt="t|").alias("u"),
    ).orderBy("m").collect()
    con = duckdb.connect()
    want = con.sql(
        "SELECT "
        f"{mix31_sql('x')} AS m, {md5_long60_sql('x')} AS h, "
        f"{u01_sql('x', salt='t|')} AS u "
        f"FROM (SELECT unnest({vals}) AS x) ORDER BY m"
    ).fetchall()
    assert [(r["m"], r["h"], r["u"]) for r in got] == [tuple(w) for w in want]


def test_shingle_config_rejects_split_patterns():
    import pytest as _pytest

    from datasketches_server_spark.config import ShingleConfig

    ShingleConfig(token_pattern="[a-z0-9]+")  # match-style: fine
    # negated classes that are legitimate MATCH tokenizers stay allowed
    # (ADVICE r3: '[^\\s]+' == non-whitespace runs == '\\S+')
    ShingleConfig(token_pattern=r"[^\s]+")
    ShingleConfig(token_pattern=r"[^\s,;]+")
    for bad in ("[^a-z0-9]+", r"[^\w]+", r"\s+", r"\W+", "[^A-Za-z0-9_-]+"):
        with _pytest.raises(ValueError, match="SPLIT"):
            ShingleConfig(token_pattern=bad)
    with _pytest.raises(ValueError, match="non-empty"):
        ShingleConfig(token_pattern="")


# ------------------------------------------------------- Gopher rules + PII


def test_gopher_flags_planted_gates(spark):
    """Each Gopher gate (Rae et al. 2021 A1.1) trips on a doc built to
    violate exactly it, and a healthy doc passes all seven."""
    from datasketches_server_spark.functions.text import gopher_flags

    healthy = (
        "the quick brown fox jumps over that lazy dog and then we have "
        "a long walk to be taken with plenty of ordinary words in it "
    ) * 3  # ~72 words, mean len ~4, many stopwords
    too_short = "the cat sat with that of and be to have"  # < 50 words
    symbol_heavy = ("the code #tag with " + "# " * 40 + "of and that be to have ") * 2
    no_stops = "alpha beta gamma delta epsilon zeta eta theta " * 10
    bullety = "\n".join(f"- the item {i} of that list with and be to have" for i in range(20))
    numeric = ("12345 67890 24680 13579 11111 " * 20) + " the of and with"

    df = spark.createDataFrame(
        [
            ("healthy", healthy),
            ("too_short", too_short),
            ("symbol_heavy", symbol_heavy),
            ("no_stops", no_stops),
            ("bullety", bullety),
            ("numeric", numeric),
        ],
        ["name", "text"],
    )
    rows = {
        r["name"]: r["g"].asDict()
        for r in df.select("name", gopher_flags(F.col("text")).alias("g")).collect()
    }
    assert rows["healthy"]["passes_gopher"], rows["healthy"]
    assert not rows["too_short"]["passes_gopher"] and rows["too_short"]["n_words"] < 50
    assert not rows["symbol_heavy"]["passes_gopher"]
    assert rows["symbol_heavy"]["symbol_ratio"] > 0.1
    assert not rows["no_stops"]["passes_gopher"] and rows["no_stops"]["stop_hits"] < 2
    assert not rows["bullety"]["passes_gopher"]
    assert rows["bullety"]["bullet_line_frac"] > 0.9
    assert not rows["numeric"]["passes_gopher"]
    assert rows["numeric"]["alpha_word_frac"] < 0.8


def test_c4_flags_planted_rules(spark):
    """Each C4 rule (Raffel et al. 2020 SS2.2) trips on a page built to
    violate exactly it; a healthy multi-sentence page passes, and the
    clean-text rewrite keeps exactly the surviving lines."""
    from datasketches_server_spark.functions.text import c4_clean_text, c4_flags

    healthy = (
        "Here is the first complete sentence of the page.\n"
        "Here is the second complete sentence of the page.\n"
        "Here is the third complete sentence of the page."
    )
    no_terminal = "this line has plenty of words but never ends properly\n" * 4
    short_lines = "tiny line.\n" * 6 + healthy.split("\n")[0]
    javascripty = (
        "Please enable javascript to continue reading this page now.\n"
        "You must enable javascript to see the article content here.\n"
        "Sorry but javascript is required to display these comments too."
    )
    policy = (
        "This site uses cookies to improve your experience always.\n"
        "Please read our privacy policy before continuing to browse.\n"
        "See the terms of use for more information about your rights."
    )
    lorem = healthy + "\nLorem Ipsum dolor sit amet is placeholder text here."
    bracey = healthy + "\nvar config = { mode: 1 };"

    df = spark.createDataFrame(
        [
            ("healthy", healthy),
            ("no_terminal", no_terminal),
            ("short_lines", short_lines),
            ("javascripty", javascripty),
            ("policy", policy),
            ("lorem", lorem),
            ("bracey", bracey),
        ],
        ["name", "text"],
    )
    rows = {
        r["name"]: (r["c"].asDict(), r["clean"])
        for r in df.select(
            "name",
            c4_flags(F.col("text")).alias("c"),
            c4_clean_text(F.col("text")).alias("clean"),
        ).collect()
    }
    c, clean = rows["healthy"]
    assert c["passes_c4"] and c["n_kept_lines"] == 3 and c["n_sentences"] == 3
    assert clean == healthy  # every line survives
    c, _ = rows["no_terminal"]
    assert not c["passes_c4"] and c["n_kept_lines"] == 0
    c, clean = rows["short_lines"]
    assert c["n_kept_lines"] == 1 and clean == healthy.split("\n")[0]
    assert not c["passes_c4"]  # one kept sentence < 3
    c, _ = rows["javascripty"]
    assert c["n_kept_lines"] == 0 and not c["passes_c4"]
    c, _ = rows["policy"]
    assert c["n_kept_lines"] == 0 and not c["passes_c4"]
    c, _ = rows["lorem"]
    assert c["has_lorem_ipsum"] and not c["passes_c4"] and c["n_sentences"] >= 3
    c, _ = rows["bracey"]
    assert c["has_curly_brace"] and not c["passes_c4"] and c["n_sentences"] >= 3


def test_pii_scan_and_redaction(spark):
    """Counts and redaction for the three PII kinds; the redacted text
    contains no residual matches."""
    from datasketches_server_spark.functions.text import pii_counts, redact_pii

    df = spark.createDataFrame(
        [
            ("a", "reach me at jane.doe+x@mail.example.org or 555-123-4567 ok"),
            ("b", "server 192.168.1.200 then 10.0.0.1; admin@host.io"),
            ("c", "no pii here at all"),
        ],
        ["id", "text"],
    )
    out = {
        r["id"]: (r["p"].asDict(), r["red"])
        for r in df.select(
            "id", pii_counts(F.col("text")).alias("p"), redact_pii(F.col("text")).alias("red")
        ).collect()
    }
    assert out["a"][0] == {"n_email": 1, "n_phone": 1, "n_ipv4": 0}
    assert out["b"][0] == {"n_email": 1, "n_phone": 0, "n_ipv4": 2}
    assert out["c"][0] == {"n_email": 0, "n_phone": 0, "n_ipv4": 0}
    assert out["a"][1] == "reach me at <EMAIL> or <PHONE> ok"
    assert out["b"][1] == "server <IPV4> then <IPV4>; <EMAIL>"
    assert out["c"][1] == "no pii here at all"


def test_encoding_flags_planted(spark):
    """Replacement chars and control bytes trip the gate; tab/LF/CR do
    not; clean text passes."""
    from datasketches_server_spark.functions.text import encoding_flags

    clean = "perfectly ordinary text with a\ttab and a\nnewline and\rcr " * 20
    mojibake = "caf� broken � decode here"
    controlly = "bell\x07and\x00nul and\x1bescape in short text"

    df = spark.createDataFrame(
        [("clean", clean), ("mojibake", mojibake), ("controlly", controlly)],
        ["name", "text"],
    )
    rows = {
        r["name"]: r["e"].asDict()
        for r in df.select("name", encoding_flags(F.col("text")).alias("e")).collect()
    }
    assert rows["clean"]["passes_encoding"]
    assert rows["clean"]["n_replacement"] == 0 and rows["clean"]["n_control"] == 0
    assert rows["mojibake"]["n_replacement"] == 2 and not rows["mojibake"]["passes_encoding"]
    assert rows["controlly"]["n_control"] == 3 and not rows["controlly"]["passes_encoding"]
