"""Property-based tests: the parse/repair stack must never crash and
must round-trip whatever the mock formats encode.

Hypothesis drives the pure-Python repair kernel directly (fast); the
Spark cascade is exercised over one composite DataFrame of generated
payloads (one collect, not one per example).
"""

from __future__ import annotations

import json

import pyspark.sql.functions as F
from hypothesis import given, settings
from hypothesis import strategies as st

from automotive_translation_pipeline_spark.functions.parsing import (
    parse_translations,
)
from automotive_translation_pipeline_spark.functions.repair import (
    repair_content,
)
from automotive_translation_pipeline_spark.translate import (
    mock_translation,
    render_mock_content,
)

# Translations that survive the suspicious filter: ≥3 chars, not pure
# digits, no leading fence/brace chars, not in the blocklist.
_clean_text = st.text(
    alphabet=st.characters(
        whitelist_categories=("Lu", "Ll", "Lo"), min_codepoint=0x41
    ),
    min_size=4,
    max_size=40,
).filter(lambda s: s.strip() == s and len(s.strip()) >= 4)

_ids = st.integers(min_value=0, max_value=99999).map(str)
_payloads = st.dictionaries(_ids, _clean_text, min_size=1, max_size=8)


@settings(max_examples=200, deadline=None)
@given(blob=st.text(max_size=400))
def test_repair_never_crashes_and_output_parses(blob):
    out = repair_content(blob)
    if out is not None:
        inner = out
        if inner.startswith("```json"):
            inner = inner.removeprefix("```json\n").removesuffix("\n```")
        json.loads(inner)  # repair output is ALWAYS valid JSON


@settings(max_examples=100, deadline=None)
@given(payload=_payloads)
def test_truncated_render_repairs_to_prefix(payload):
    """The mock's truncated format loses at most the last entry; repair
    must recover every other entry verbatim."""
    body = json.dumps(
        {k: mock_translation(v) for k, v in payload.items()},
        ensure_ascii=False,
        indent=2,
    )
    cut = body.rfind('",')
    truncated = f"```json\n{body[: cut + 2] if cut > 0 else body}"
    out = repair_content(truncated)
    assert out is not None
    inner = out.removeprefix("```json\n").removesuffix("\n```")
    recovered = json.loads(inner)
    expected = {k: mock_translation(v) for k, v in payload.items()}
    # Recovered is a prefix of expected missing at most one entry.
    assert set(recovered) <= set(expected)
    assert len(recovered) >= len(expected) - 1
    for k, v in recovered.items():
        assert expected[k] == v


def test_spark_cascade_roundtrips_generated_payloads(spark):
    """All four mock formats round-trip through the native cascade for
    a batch of generated payloads in one DataFrame pass."""
    import random

    rnd = random.Random(42)
    words = ["engine", "brake", "sensor", "coolant", "మోటారు", "తనిఖీ", "valve"]
    rows = []
    expect = {}
    for i in range(120):
        payload = {
            str(rnd.randrange(10**5)): " ".join(
                rnd.choices(words, k=rnd.randrange(2, 6))
            )
            for _ in range(rnd.randrange(1, 7))
        }
        cid = f"batch-{i:04d}"
        rows.append((cid, render_mock_content(payload, cid)))
        translated = {k: mock_translation(v) for k, v in payload.items()}
        fmt = sum(cid.encode()) % 4
        if fmt == 2 and len(translated) >= 2:
            # truncated: drop the last entry in insertion order
            *keep, _last = translated
            translated = {k: translated[k] for k in keep}
            expect[cid] = ("truncated", translated)
        else:
            expect[cid] = ("full", translated)
    df = spark.createDataFrame(rows, "custom_id string, content string")
    from automotive_translation_pipeline_spark.functions.repair import (
        gated_repair,
    )

    repaired = df.select("custom_id", gated_repair(F.col("content")).alias("c"))
    got = {
        r["custom_id"]: r["m"]
        for r in repaired.select(
            "custom_id", parse_translations(F.col("c")).alias("m")
        ).collect()
    }
    for cid, (kind, translated) in expect.items():
        # Values that look suspicious (short) are dropped by design;
        # compare only the clean subset.
        clean = {
            k: v
            for k, v in translated.items()
            if len(v.strip()) >= 3 and not v.strip().isdigit()
        }
        assert got[cid] == clean, f"{cid} ({kind}): {got[cid]} != {clean}"


def test_char_entropy_matches_python_reference(spark):
    """Spark char_entropy == an independent pure-Python computation of
    Shannon bits/char over the normalized text, for a seeded corpus of
    adversarial shapes (repeats, unicode, whitespace runs, empties)."""
    import math
    import random
    import re
    from collections import Counter

    from automotive_translation_pipeline_spark.functions.text import (
        char_entropy,
    )

    rng = random.Random(42)
    alphabet = "abcdefgh XYZ.,!🎉é\t\n"
    texts = [""] + ["a" * n for n in (1, 7)] + [
        "".join(rng.choice(alphabet) for _ in range(rng.randrange(1, 120)))
        for _ in range(60)
    ]

    def ref(t: str) -> float:
        nt = re.sub(r"\s+", " ", t.lower()).strip()
        if not nt:
            return 0.0
        n = len(nt)
        h = -sum(
            (k / n) * math.log2(k / n) for k in Counter(nt).values()
        )
        return round(h, 4)

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               ["i", "t"])
    got = {
        r.i: r.h
        for r in df.select("i", char_entropy(F.col("t")).alias("h")).collect()
    }
    for i, t in enumerate(texts):
        assert abs(got[i] - ref(t)) <= 1e-4, (i, repr(t), got[i], ref(t))


def test_collapse_word_repeats_idempotent(spark):
    import random

    from automotive_translation_pipeline_spark.functions.cleaning import (
        collapse_word_repeats,
    )

    rng = random.Random(7)
    words = ["a", "b", "the", "model"]
    texts = [
        " ".join(rng.choice(words) for _ in range(rng.randrange(0, 30)))
        for _ in range(80)
    ]
    df = spark.createDataFrame([(t,) for t in texts], ["t"])
    once = collapse_word_repeats(F.col("t"))
    twice = collapse_word_repeats(once)
    rows = df.select(once.alias("o"), twice.alias("tw")).collect()
    for r in rows:
        assert r.o == r.tw  # fixed point after one pass
        toks = r.o.split(" ") if r.o else []
        assert all(x != y for x, y in zip(toks, toks[1:]))


def test_int8_quantize_error_bound(spark):
    """Per-component dequantization error is <= scale/2 (+ half-ulp)
    except where clamping applies — and this corpus never clamps
    because scale is derived from the max abs."""
    import random

    from automotive_translation_pipeline_spark.operators.embeddings import (
        int8_quantize,
    )

    rng = random.Random(3)
    vecs = [
        (i, [rng.uniform(-5, 5) for _ in range(16)]) for i in range(50)
    ]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    # unrounded scale for the bound check
    out = int8_quantize(df, ndigits=12).collect()
    by_id = {r.vec_id: r for r in out}
    for i, v in vecs:
        r = by_id[i]
        for comp, q in zip(v, r.q):
            assert abs(comp - q * r.scale) <= r.scale / 2 + 1e-9
