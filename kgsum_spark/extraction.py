"""OpenIE-style triple + mention extraction as one Catalyst plan.

The per-row Python of the reference (iterrows/apply extraction, e.g.
/root/reference/src/preprocessing.py:308,369,441) becomes built-in
expressions: a regex sentence split, explode, then a first-match-wins
CASE chain over the rule table (literal-anchor `contains` prefilter,
anchored `rlike` dispatch, `regexp_extract` capture). The plan is
whole-stage-codegen'd end to end, scans its source once and never
crosses the JVM↔Python boundary.

`rules.SENTENCE_SPLIT` and `rules.RULES` stay the single source of the
patterns, in Python `re` syntax (the single-process oracle runs them as
written). `_java` translates each one to java.util.regex once, at import,
so that Java matches exactly what Python matches on every input:
- `(?d)` UNIX_LINES: only \\n is a line terminator, so `.` matches \\r
  (and \\x85, \\u2028, \\u2029) as Python's `.` does;
- `(?U)` UNICODE_CHARACTER_CLASS: `\\s` is Unicode White_Space;
- `\\s` → `[\\s\\x1c-\\x1f]` and `\\S` → `[^\\s\\x1c-\\x1f]`: Python's
  `str.isspace()` also counts the four information separators, which
  White_Space does not (the two sets then agree on all 1.1M code points);
- the rule patterns are anchored `^(?:…)\\z`, which is `re.fullmatch`.
`(?U)` also changes `\\w \\W \\b \\B \\d \\D`, and the `\\s` rewrite
cannot nest inside `[...]`, so `_java` rejects patterns using either.

Scale notes: extraction is embarrassingly parallel per turn; the only
shuffle upstream is the turn-assembly window's hash partition on conv_id
(pruned entirely when the caller drops `rn`). `part_id`
(spark_partition_id at extraction time) is carried on every output row
as per-partition lineage (north_rule).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .rules import RULES, SENTENCE_SPLIT

_WS = r"[\s\x1c-\x1f]"
_NON_WS = r"[^\s\x1c-\x1f]"


def _java(pattern: str) -> str:
    """Translate a Python-syntax rule pattern to a Java regex with the
    same matches (see module doc)."""
    out: list[str] = []
    in_class = False
    j = 0
    while j < len(pattern):
        ch = pattern[j]
        if ch == "\\":
            esc = pattern[j + 1]
            if esc in "wWbBdD":
                raise AssertionError(
                    f"\\{esc} matches differently under (?U): {pattern!r}")
            if esc in "sS":
                if in_class:
                    raise AssertionError(
                        f"\\{esc} inside [...] cannot be rewritten: {pattern!r}")
                out.append(_WS if esc == "s" else _NON_WS)
            else:
                out.append(pattern[j:j + 2])
            j += 2
            continue
        if ch == "[":
            in_class = True
        elif ch == "]":
            in_class = False
        out.append(ch)
        j += 1
    return "(?dU)" + "".join(out)


_SPLIT = _java(SENTENCE_SPLIT)
_FULLMATCH = [_java(f"^(?:{r.pattern})") + r"\z" for r in RULES]


def extract_raw_triples(turns: DataFrame) -> DataFrame:
    """turns(conv_id, turn_idx, text, ...) → raw triples with surface-form
    subjects/objects: (subj, pred, obj, obj_is_iri, obj_is_mention,
    conv_id, turn_idx, part_id).

    Same multiset as `rules.extract_sentence` over `rules.split_sentences`
    for every text (null text yields nothing). Column-pruned to the three
    needed columns; `part_id` is the physical scan-partition lineage tag.
    """
    sent = turns.select(
        "conv_id", "turn_idx", F.spark_partition_id().alias("part_id"),
        F.explode(F.split(F.col("text"), _SPLIT)).alias("s"),
    ).filter(F.col("s") != "")
    rid = F.lit(-1)
    for i in reversed(range(len(RULES))):
        cond = F.col("s").contains(RULES[i].anchor) & F.col("s").rlike(_FULLMATCH[i])
        rid = F.when(cond, F.lit(i)).otherwise(rid)
    sent = sent.withColumn("_rid", rid).filter(F.col("_rid") >= 0)
    subj = F.lit(None).cast("string")
    obj = F.lit(None).cast("string")
    pred = F.lit(None).cast("string")
    is_iri = F.lit(None).cast("boolean")
    is_mention = F.lit(None).cast("boolean")
    for i in reversed(range(len(RULES))):
        r = RULES[i]
        c = F.col("_rid") == i
        subj = F.when(c, F.regexp_extract("s", _FULLMATCH[i], 1)).otherwise(subj)
        obj = F.when(c, F.regexp_extract("s", _FULLMATCH[i], 2)).otherwise(obj)
        pred = F.when(c, F.lit(r.pred)).otherwise(pred)
        is_iri = F.when(c, F.lit(r.obj_kind == "I")).otherwise(is_iri)
        is_mention = F.when(c, F.lit(r.obj_kind == "M")).otherwise(is_mention)
    return sent.select(
        subj.alias("subj"), pred.alias("pred"), obj.alias("obj"),
        is_iri.alias("obj_is_iri"), is_mention.alias("obj_is_mention"),
        "conv_id", F.col("turn_idx").cast("int").alias("turn_idx"),
        F.col("part_id").cast("int").alias("part_id"))


def mentions_from_raw(raw: DataFrame) -> DataFrame:
    """Derive the mentions table (FIXTURES.md §3) declaratively from raw
    triples: every subj slot plus every mention-kind obj slot.

    norm = lowercase, punct→space, collapse (reference normalizer analog
    /root/reference/src/pipeline_gemma.py:16-22); block_key = first token
    (token-blocking for the linking join). All JVM-side built-ins.
    """
    # ONE scan: subj always a mention, obj conditionally — emitted together
    # via explode of a 2-slot array (null slot filtered) instead of a
    # 2-leg union that reads the raw-triples source twice.
    slots = F.array(
        F.col("subj"),
        F.when(F.col("obj_is_mention"), F.col("obj")),
    )
    m = (
        raw.select(F.explode(slots).alias("mention"), "conv_id", "turn_idx")
        .filter(F.col("mention").isNotNull())
    )
    norm = F.trim(F.regexp_replace(F.lower(F.col("mention")), "[^a-z0-9]+", " "))
    return (
        m.withColumn("norm", norm)
        .filter(F.col("norm") != "")
        .withColumn("block_key", F.substring_index(F.col("norm"), " ", 1))
    )
