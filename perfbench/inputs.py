"""Seeded input generators. The same seed gives byte-identical inputs.

The program under test sees only what these functions write: parquet
tables for ``operators_batch`` and the message list the live publisher
sends for ``ingest_live``. Expected ingest outcomes are derived here, from the
generator's own knowledge of each message, with a first-match router
written independently of the engine's.
"""

from __future__ import annotations

import json
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Batch table sizes (rows) and vocabulary: those of the repository's sf0.1
# test tables (5k documents, 2k 64-d embeddings). Fixed across seeds:
# only content varies.
N_DOCS = 5000
N_VECS = 2000
EMB_DIM = 64

WORDS = (
    "a the scan column window order sort part agg value line key join "
    "merge query group vector hash slow stream filter fast spark batch "
    "table row data small big customer"
).split()
LANGS = (("en", 0.44), ("zh", 0.15), ("es", 0.15), ("de", 0.14), ("fr", 0.12))


def _write(table: pa.Table, path: str) -> str:
    pq.write_table(table, path)
    return path


def corpus_tables(seed: int, out_dir: str) -> None:
    """documents + embeddings. About one document in eight is a near
    copy of an earlier one (a few words swapped) and one in thirty an
    exact copy, so the dedup and near-dup stages have work to do."""
    rng = np.random.default_rng([seed, 2])
    n_d, n_v = N_DOCS, N_VECS
    texts: list[str] = []
    for i in range(n_d):
        r = rng.random()
        if i > 10 and r < 0.033:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.16:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 4))):
                words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(words))
        else:
            n_words = int(rng.integers(8, 95))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), n_words)))
    langs, weights = zip(*LANGS)
    _write(
        pa.table(
            {
                "doc_id": pa.array(np.arange(n_d), pa.int64()),
                "text": pa.array(texts),
                "lang": pa.array(rng.choice(langs, n_d, p=weights)),
                "source": pa.array([f"src{i % 20}" for i in range(n_d)]),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        os.path.join(out_dir, "documents.parquet"),
    )
    m = rng.standard_normal((n_v, EMB_DIM)).astype(np.float32)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    _write(
        pa.table(
            {
                "vec_id": pa.array(np.arange(n_v), pa.int64()),
                "embedding": pa.array(list(m), pa.list_(pa.float32())),
                "label": pa.array(rng.integers(0, 10, n_v), pa.int32()),
            }
        ),
        os.path.join(out_dir, "embeddings.parquet"),
    )


# ----------------------------------------------------------- ingest inputs


def topic_matches(filt: str, topic: str) -> bool:
    """MQTT filter semantics: '+' one level, trailing '#' any rest."""
    f, t = filt.split("/"), topic.split("/")
    for i, part in enumerate(f):
        if part == "#":
            return True
        if i >= len(t) or (part != "+" and part != t[i]):
            return False
    return len(f) == len(t)


def route_of(routes: list[tuple[str, str]], topic: str, default: str = "iot_raw") -> str:
    return next((table for filt, table in routes if topic_matches(filt, topic)), default)


def _topics(rng, n: int, hot_share: float) -> list[str]:
    """A topic mix with one hot topic taking ``hot_share`` of traffic."""
    kinds = ("temperature", "humidity", "status")
    out = []
    for r, dev, kind, zone in zip(
        rng.random(n),
        rng.integers(1, 64, n),
        rng.integers(0, len(kinds), n),
        rng.integers(0, 8, n),
    ):
        if r < hot_share:
            out.append("sensors/dev0/temperature")
        elif r < hot_share + (1 - hot_share) * 0.7:
            out.append(f"sensors/dev{dev}/{kinds[kind]}")
        elif r < hot_share + (1 - hot_share) * 0.85:
            out.append(f"alerts/zone{zone}/{('low', 'high')[dev % 2]}")
        else:
            out.append(f"logs/svc{zone}")
    return out


BAD_JSON_SHARE = 0.04
NULL_PAYLOAD_SHARE = 0.01
LIVE_BLOCK = 1024


def live_messages(seed: int, n: int) -> list[tuple[str, str | None, str]]:
    """(topic, payload, kind) for the open-loop publisher; kind is
    'ok', 'bad_json' or 'null_payload' (about 5% malformed). Generated
    in fixed blocks, so the first k messages do not depend on n."""
    out = []
    for block in range(-(-n // LIVE_BLOCK)):
        out.extend(_live_block(seed, block))
    return out[:n]


def _live_block(seed: int, block: int) -> list[tuple[str, str | None, str]]:
    rng = np.random.default_rng([seed, 4, block])
    n = LIVE_BLOCK
    topics = _topics(rng, n, hot_share=0.25)
    values = np.round(rng.normal(20, 5, n), 3)
    out = []
    for j, (topic, r) in enumerate(zip(topics, rng.random(n))):
        i = block * LIVE_BLOCK + j
        body = json.dumps({"seq": i, "device": topic.split("/")[1], "value": float(values[j])})
        if r < NULL_PAYLOAD_SHARE:
            out.append((topic, None, "null_payload"))
        elif r < NULL_PAYLOAD_SHARE + BAD_JSON_SHARE:
            out.append((topic, body[: len(body) // 2], "bad_json"))
        else:
            out.append((topic, body, "ok"))
    return out


def live_expected(messages, routes) -> dict[str, int]:
    """Rows per output table, ``_quarantine.<reason>`` for dead letters."""
    expected: dict[str, int] = {}
    for topic, _payload, kind in messages:
        key = route_of(routes, topic) if kind == "ok" else f"_quarantine.{kind}"
        expected[key] = expected.get(key, 0) + 1
    return expected


SEQ_RE = re.compile(r'"seq": (\d+)')
