"""Driver-contract smoke: entry() returns rows with a stable schema;
every oracle has a matching query; queries are well-formed at sf0.001."""

from __future__ import annotations

import pytest

import __spark_entry__ as E

from conftest import SF_SMOKE


def test_entry_returns_rows(spark):
    df = E.entry(spark)
    assert df.count() > 0
    assert df.columns == [
        "bucket", "route_table", "avg_value", "min_value", "max_value", "n",
    ]


def test_every_oracle_has_a_query():
    q, o = set(E.queries()), set(E.oracle_sql())
    assert o <= q
    # r5: zero rows-only entries. fn_hmac (the last holdout — DuckDB
    # 1.0 sha256() is VARCHAR-only, so HMAC's raw-byte inner digest
    # cannot be composed in SQL) now runs over the nation table, which
    # is byte-identical at every sf, against a literal-VALUES oracle
    # precomputed with Python's stdlib hmac.
    assert q - o == set()


def test_driver_window_is_oldest_evidence_first():
    """The driver hashes only the first 50 queries() entries. The
    rotation is derived from the CORRECTNESS_r*.json artifacts: order
    must be non-decreasing in last-checked round, with never-checked
    queries leading — so a new query lands in the next driver sample
    and no query's evidence can age past ~4 rounds (VERDICT r7 #5)."""
    import glob
    import json
    import os
    import re

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    last: dict[str, int] = {}
    for f in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r0*(\d+)\.json$", f)
        if not m:
            continue
        try:
            keys = list(json.load(open(f)))
        except Exception:  # noqa: BLE001 - unreadable file = no evidence
            continue
        for k in keys:
            last[k] = max(last.get(k, 0), int(m.group(1)))
    qs = list(E.queries())
    ages = [last.get(k, 0) for k in qs]
    assert ages == sorted(ages), "window must be oldest-evidence-first"
    # never-checked queries must all sit before any checked one
    if 0 in ages and any(a > 0 for a in ages):
        assert ages.index(next(a for a in ages if a > 0)) == ages.count(0)


def test_driver_window_prioritizes_unevidenced_queries():
    """Self-maintaining rotation invariant: every queries() entry that
    has NEVER appeared in any driver CORRECTNESS file must sit inside
    the 50-entry window the driver will hash this round — otherwise
    union coverage can never reach the full set."""
    import glob
    import json
    import os

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    greens: set[str] = set()
    for f in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        try:
            d = json.load(open(f))
        except Exception:  # noqa: BLE001 - unreadable file = no evidence
            continue
        if isinstance(d, dict):
            greens |= set(d.keys())
    qs = list(E.queries())
    never = [k for k in qs if k not in greens]
    window = set(qs[:50])
    missing = [k for k in never if k not in window]
    # if there are more unevidenced entries than window slots, the
    # rotation can only fix it over multiple rounds — require best
    # effort: no slack slots while unevidenced entries wait outside
    if missing:
        assert len(never) > 50, (
            f"unevidenced queries left outside the driver window: {missing}"
        )


@pytest.fixture(scope="module")
def built_schemas(spark):
    """Construct every queries() entry ONCE (not once per assertion)
    and in parallel (guide §2.6; the entry's IndexCache builds each
    shared index once under a per-key lock) — both parametrized contract tests below only need
    the analyzed schema. Exceptions are stored per query so failure
    attribution stays per-name."""
    from concurrent.futures import ThreadPoolExecutor

    queries = E.queries()

    def one(name):
        try:
            return queries[name](spark, SF_SMOKE).schema
        except Exception as ex:  # noqa: BLE001 — re-raised by the test
            return ex

    with ThreadPoolExecutor(max_workers=8) as pool:
        futures = {n: pool.submit(one, n) for n in sorted(queries)}
        return {n: f.result() for n, f in futures.items()}


@pytest.mark.parametrize("name", sorted(E.queries()))
def test_each_query_builds_a_plan(built_schemas, name):
    """Every entry must at least analyze at sf0.001 (no execution)."""
    schema = built_schemas[name]
    if isinstance(schema, Exception):
        raise schema
    assert schema is not None and len(schema.fields) > 0


@pytest.mark.parametrize("name", sorted(E.queries()))
def test_each_query_surface_is_canon_safe(built_schemas, name):
    """Driver-canon contract (VERDICT r5): no array/map/struct column
    may reach the gated surface — the driver's pandas canon dies on
    container cells (the literal r5 `err` rows). Library APIs keep the
    real array forms; the queries() wrapper must serialize them."""
    schema = built_schemas[name]
    if isinstance(schema, Exception):
        raise schema
    bad = [
        f"{f.name}: {f.dataType.simpleString()}"
        for f in schema.fields
        if f.dataType.simpleString().startswith(("array<", "map<", "struct<"))
    ]
    assert not bad, bad


def _image_blobs_of(docs, frames=1, require_text=False):
    """Parity reference: documents-shaped frame → (doc_id, content)
    tile blobs, one row per emitted frame. Frame f is the tile of the
    64-char text block at offset 64·f; emitted when the text reaches
    the offset, except frame 0 which is always emitted unless
    ``require_text``."""
    import pandas as pd

    from hermod_spark.operators.multimodal import image_tile_blob

    def gen(it):
        for pdf in it:
            ids, blobs = [], []
            for i, t in zip(pdf["doc_id"], pdf["text"]):
                t = t or ""
                for f in range(frames):
                    if len(t) > 64 * f or (f == 0 and not require_text):
                        ids.append(i)
                        blobs.append(image_tile_blob(t[64 * f : 64 * (f + 1)]))
            yield pd.DataFrame({"doc_id": ids, "content": blobs})

    return docs.select("doc_id", "text").mapInPandas(
        gen, "doc_id LONG, content BINARY"
    )


def _audio_blobs_of(docs):
    """Parity reference: documents-shaped frame → (doc_id, content)
    REAL WAV blobs. Sample j of doc d is (code_j - 128)·256 where
    code_j = min(codepoint of text char j, 255), space(32)-padded to
    64 samples."""
    import pandas as pd

    from hermod_spark.operators.multimodal import wav_from_codes

    def gen(it):
        for pdf in it:
            blobs = []
            for t in pdf["text"]:
                t = (t or "")[:64]
                codes = [min(ord(ch), 255) for ch in t] + [32] * (64 - len(t))
                blobs.append(wav_from_codes(codes))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "content": blobs})

    return docs.select("doc_id", "text").mapInPandas(
        gen, "doc_id LONG, content BINARY"
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _decoded_rows(ref, hash_col):
    """(doc_id, hash) rows of a blob-reference hasher output, asserting
    the reference decoded every row (the kernel emits no decode_ok)."""
    got = ref.collect()
    assert all(r.decode_ok for r in got)
    return sorted((r.doc_id, r[hash_col]) for r in got)


def test_fused_hash_stages_match_two_stage_composition(spark):
    """Parity pin: the one synth+hash Arrow kernel
    (`synth_media_hashes`) must emit EXACTLY the (doc_id, hash) rows
    of the two-stage blob compositions it replaced, in its image,
    video and audio shapes — a drift here silently re-hashes the
    whole multimodal family differently from the oracle."""
    from hermod_spark.data import table
    from hermod_spark.operators.multimodal import (
        audio_fingerprint,
        image_ahash,
        synth_media_hashes,
    )

    docs = table(spark, SF_SMOKE, "documents")

    assert _rows(synth_media_hashes(docs)) == _decoded_rows(
        image_ahash(_image_blobs_of(docs)), "ahash"
    )
    assert _rows(
        synth_media_hashes(docs, frames=3, require_text=True)
    ) == _decoded_rows(
        image_ahash(_image_blobs_of(docs, frames=3, require_text=True)),
        "ahash",
    )
    assert _rows(
        synth_media_hashes(docs, image=False, audio=True)
    ) == _decoded_rows(audio_fingerprint(_audio_blobs_of(docs)), "afp")


def test_mm_shared_pass_matches_per_leg_fused_stages(spark):
    """Parity pin for the report's shared pass: the frame-0 rows of
    `synth_media_hashes(frames=3, audio=True)` must equal the image
    and audio shapes, and its has_text rows must equal the video
    shape (frames=3, require_text=True) — same kernels, one corpus
    scan."""
    from pyspark.sql import functions as F

    from hermod_spark.data import table
    from hermod_spark.operators.multimodal import synth_media_hashes

    docs = table(spark, SF_SMOKE, "documents")
    mm = synth_media_hashes(docs, frames=3, audio=True).localCheckpoint()
    f0 = mm.filter(F.col("frame") == 0)

    assert _rows(f0.select("doc_id", "ahash")) == _rows(
        synth_media_hashes(docs)
    )
    assert _rows(f0.select("doc_id", "afp")) == _rows(
        synth_media_hashes(docs, image=False, audio=True)
    )
    assert _rows(mm.filter(F.col("has_text")).select("doc_id", "ahash")) == (
        _rows(synth_media_hashes(docs, frames=3, require_text=True))
    )
