"""Spark vectorized extraction ≡ single-process reference oracle."""

from __future__ import annotations

from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from kgsum_spark.assembly import assemble_turns
from kgsum_spark.extraction import extract_raw_triples, mentions_from_raw
from kgsum_spark.rules import (
    RULES,
    block_key_of,
    extract_sentence,
    normalize_mention,
    split_sentences,
)


def _oracle_extract(transcripts_pdf):
    """Pure-Python single-process extraction over the corpus (the reference
    path: per-row loops as kgsum does, /root/reference/src/preprocessing.py:308)."""
    out = set()
    for _, row in transcripts_pdf.iterrows():
        for sent in split_sentences(row["text"] or ""):
            hit = extract_sentence(sent)
            if hit:
                rule, s, o = hit
                out.add((s, rule.pred, o, row["conv_id"], int(row["turn_idx"])))
    return out


def test_spark_extraction_matches_oracle(spark, transcripts_df, corpus):
    raw = extract_raw_triples(assemble_turns(transcripts_df).drop("rn"))
    got = {
        (r["subj"], r["pred"], r["obj"], r["conv_id"], r["turn_idx"])
        for r in raw.collect()
    }
    want = _oracle_extract(corpus.transcripts)
    assert got == want


def test_extraction_count_matches_golden(spark, transcripts_df, corpus):
    n = extract_raw_triples(transcripts_df).count()
    assert n == len(corpus.golden)


def test_mentions_norm_and_block(spark, transcripts_df):
    raw = extract_raw_triples(transcripts_df)
    m = mentions_from_raw(raw).limit(500).collect()
    assert len(m) > 0
    for r in m:
        assert r["norm"] == normalize_mention(r["mention"])
        assert r["block_key"] == block_key_of(r["norm"])


def test_part_id_lineage_present(spark, transcripts_df):
    raw = extract_raw_triples(transcripts_df)
    assert raw.filter(F.col("part_id").isNull()).count() == 0


def test_first_match_wins_matches_oracle(spark):
    """ADVICE r1: a sentence fullmatching two rules ('A was created by B
    same as http://u.') emitted 2 triples on the Spark path but 1 from the
    single-process oracle. Both paths must be first-match-wins now."""
    from kgsum_spark.rules import extract_sentence

    s = "A was created by B same as http://u."
    rule, subj, obj = extract_sentence(s)
    df = spark.createDataFrame([("c0", 0, s)], "conv_id string, turn_idx int, text string")
    rows = extract_raw_triples(df).collect()
    assert len(rows) == 1
    assert (rows[0]["pred"], rows[0]["subj"], rows[0]["obj"]) == (rule.pred, subj, obj)


def test_hostile_inputs(spark):
    """None / empty / unicode / huge / near-miss turns must not crash the
    extractor or emit spurious triples."""
    rows = [
        ("c0", 0, None),
        ("c0", 1, ""),
        ("c0", 2, "   "),
        ("c0", 3, "Ünïcødé 漢字 is a test."),          # non-ascii subject: rule obj ok
        ("c0", 4, "almost is a"),                      # near-miss: no final period
        ("c0", 5, "x was created by"),                 # near-miss: missing obj
        ("c0", 6, ("verylong " * 12000) + "Z is a token."),  # ~100KB turn
        ("c0", 7, "A is a b. " * 500),                 # many sentences, one rule
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    got = extract_raw_triples(df).collect()
    by_turn = {}
    for r in got:
        by_turn.setdefault(r["turn_idx"], []).append(r)
    assert set(by_turn) <= {3, 6, 7}
    assert len(by_turn.get(6, [])) == 1 and by_turn[6][0]["subj"].endswith("Z")
    assert len(by_turn.get(7, [])) == 500
    # unicode subject survives byte-identically
    assert by_turn[3][0]["subj"] == "Ünïcødé 漢字"


def test_empty_dataframe_extraction(spark):
    df = spark.createDataFrame([], "conv_id string, turn_idx int, text string")
    assert extract_raw_triples(df).count() == 0


_HOSTILE_TEXTS = [
    None, "", "A is a b.", "A is a b. C was created by D.",
    "A was created by B same as http://u.",
    "CR\rX is a b.",                  # \r inside subject: Python `.` matches it
    "A is a b.\rC is a d.",           # \r as split whitespace
    "Ünïcode is a tëst.",
    'E titled "".',                    # empty quoted object
    "tab\tis a b.\n\nH has subject k.",
    "J uses vocabulary http://v.org/v. K has identifier id9.",
    "x is a b is a c.",               # lazy backtracking
    "no anchor sentence here.", "trailing. ",
    "F\x0corm feed is a b.",
]

_HOSTILE_TEXTS_2 = [
    None, "", "   ", "A is a b.", "A is a b. C was created by D.",
    "A was created by B same as http://u.",     # two-rule overlap
    "x is a b is a c.",                         # lazy backtracking
    "Ünïcode is a tëst.",
    "NB\xa0SP is a b.",                         # NBSP
    "V\x0bT is a b.",                           # vertical tab
    "A is a b.\x1cC is a d.",                   # \x1c: Python whitespace
    "S\x00entinel is a b.",                     # NUL byte
    'E titled "".',
    "tab\tis a b.\n\nH has subject k.",
    "multi.  space. I has theme t.",
    "no anchor sentence here.",
    "J uses vocabulary http://v.org/v. K has identifier id9.",
    "trailing. ",
]


def _oracle_rows(texts):
    exp = []
    for i, t in enumerate(texts):
        for s in split_sentences(t or ""):
            r = extract_sentence(s)
            if r:
                rule, subj, obj = r
                exp.append((subj, rule.pred, obj, rule.obj_kind == "I",
                            rule.obj_kind == "M", f"c{i}", i))
    return sorted(exp)


def _spark_rows(spark, texts):
    # one input partition: a job over a tiny list is mostly per-task cost
    rows = spark.sparkContext.parallelize(
        [(f"c{i}", i, t) for i, t in enumerate(texts)], 1)
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    return sorted(
        (r["subj"], r["pred"], r["obj"], r["obj_is_iri"], r["obj_is_mention"],
         r["conv_id"], r["turn_idx"])
        for r in extract_raw_triples(df).collect())


def test_extraction_parity_with_oracle_on_hostile_texts(spark):
    """The translated Java patterns must match what Python `re` matches,
    including \\r (Java's `.` excludes it without UNIX_LINES) and the
    Unicode separators where Java's and Python's `\\s` differ."""
    got = _spark_rows(spark, _HOSTILE_TEXTS)
    assert got == _oracle_rows(_HOSTILE_TEXTS)
    assert len(got) > 0


def test_translated_classes_agree_with_python_on_every_code_point(spark):
    """`_java`'s `\\S` and `.` exclude exactly what Python's `\\S` and `.`
    exclude, over all code points but the surrogates."""
    import re

    from kgsum_spark.extraction import _java

    text = "".join(chr(c) for c in range(0x110000) if not 0xD800 <= c <= 0xDFFF)
    row = spark.createDataFrame([(text,)], "t string").select(
        F.regexp_replace("t", _java(r"\S"), "").alias("ws"),
        F.regexp_replace("t", _java("."), "").alias("dot")).first()
    assert row["ws"] == "".join(re.findall(r"\s", text))
    assert row["dot"] == "\n"


# Differential fuzz: rule templates whose slots and separators splice in
# characters from the whole code-point range, weighted toward the ones
# where Java and Python regex classes differ by default.
_SPECIAL = st.sampled_from([
    "\r", "\r\n", "\n", "\t", "\x0b", "\x0c", "\x1c", "\x1d", "\x1e", "\x1f",
    "\x85", "\xa0", "\u1680", "\u2000", "\u200a", "\u2028", "\u2029",
    "\u202f", "\u205f", "\u3000", "\x00", "\u200b", "\ufeff", "\U0001f600",
    " ", "  ", ".", "a", "b-1", "Zorblax", "http://u.org/x", '"',
])
_ANY = st.text(st.characters(min_codepoint=0, max_codepoint=0x10FFFF,
                             exclude_categories=("Cs",)), max_size=3)
_FRAG = st.lists(st.one_of(_SPECIAL, _ANY), min_size=1, max_size=3).map("".join)
_SENT = st.builds(lambda r, s, o: r.template.format(s=s, o=o),
                  st.sampled_from(RULES), _FRAG, _FRAG)
_TEXT = st.lists(st.one_of(_SENT, _FRAG), max_size=6).map("".join)


# Each example costs one Spark job (about 1 s, mostly plan building and
# job overhead), so examples are few but wide.
@settings(max_examples=20, deadline=None)
@given(texts=st.lists(st.one_of(st.none(), _TEXT), min_size=1, max_size=24))
@example(texts=_HOSTILE_TEXTS)
@example(texts=_HOSTILE_TEXTS_2)
def test_extraction_differential_vs_oracle(spark, texts):
    assert _spark_rows(spark, texts) == _oracle_rows(texts)


def test_extraction_plan_is_one_scan_without_python(spark, tmp_path):
    """One Catalyst plan for every row: a single scan of the source, no
    Python stage and no branch union."""
    import re

    path = str(tmp_path / "turns")
    spark.createDataFrame(
        [(f"c{i}", i, t) for i, t in enumerate(_HOSTILE_TEXTS)],
        "conv_id string, turn_idx int, text string").write.parquet(path)
    raw = extract_raw_triples(spark.read.parquet(path))
    raw.collect()
    plan = raw._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"\bFileScan\b", plan)) == 1, plan
    assert not re.search(r"MapInPandas|PythonUDF|ArrowEvalPython|BatchEvalPython"
                         r"|\bUnion\b", plan), plan
