"""Round-12 sink adversarial battery (r11 verdict "Next round" #8): the
K1/K5 sinks under hostile KEY DATA and retry/rerun interleavings. The
partition-VALUE escaping battery lives in test_sink_adversarial.py; this
file covers the seams that battery never hit:

- hostile keys flowing through ``write_keyed_overwrite`` (keys and
  the md5-derived ``__bucket`` are parquet DATA there, never path
  components, so NUL bytes, 10-KB keys, unicode, the Hive
  sentinel, and path metacharacters must all round-trip byte-identical
  AND merge per-key on upsert);
- rerun/retry interleavings of ``write_keyed_overwrite``: replay,
  stale full replay after a partial upsert (last-writer-wins, never
  duplicates), and a rerun over the debris of a mid-job crash
  (stale ``_temporary`` attempt directory);
- the one value class that CANNOT flow into ``write_keyed_json``
  partition columns: a NUL byte. POSIX filenames cannot contain
  ``\\x00`` and Spark's partition-path escaping does not escape it, so
  the write crashes (TASK_WRITE_FAILED) — pinned here as current
  behavior; the normalization fix is QUEUED for r13 under the round-12
  hard freeze (DIVERGENCES.md "Queued fix: NUL bytes in
  write_keyed_json partition values").

Reference anchor: keyed overwrite-per-product semantics
(any_scraper.py:776, AsyncImageGen/main.py:77).
"""

from __future__ import annotations

import os

import pytest

from syntheticdata_pipeline__spark.sources.readers import (
    write_keyed_json,
    write_keyed_overwrite,
    write_text_rendered,
)

# Keys that must survive write_keyed_overwrite byte-identically: the
# sink stores them as parquet column data, so none of the partition-path
# restrictions apply (contrast ROUND_TRIP_KEYS in test_sink_adversarial).
HOSTILE_KEYS = [
    "a\x00b",  # NUL byte — fatal as a partition VALUE, fine as data
    "café",  # unicode latin
    "中文",  # unicode CJK
    "x" * 10_000,  # 10-KB key (a scraped URL gone wrong)
    "",  # empty string stays a distinct key here (no Hive collapse)
    "__HIVE_DEFAULT_PARTITION__",  # the sentinel is ordinary data here
    "a/b=c:d..%2F#e",  # every path metacharacter at once
    "line1\nline2",  # embedded newline
]


def _rows(spark, pairs):
    return spark.createDataFrame(
        [(i, k, v) for i, (k, v) in enumerate(pairs)], "id int, k string, v string"
    )


def _read_kv(spark, path):
    return {
        r.k: r.v for r in spark.read.parquet(path).select("k", "v").collect()
    }


def test_keyed_overwrite_hostile_keys_round_trip(spark, tmp_path):
    path = str(tmp_path / "ovw")
    pairs = [(k, f"v{i}") for i, k in enumerate(HOSTILE_KEYS)] + [(None, "vN")]
    write_keyed_overwrite(_rows(spark, pairs), path, "k", n_buckets=4)
    back = _read_kv(spark, path)
    assert back == dict(pairs)  # byte-identical keys, incl. NUL + 10 KB


def test_keyed_overwrite_replay_is_idempotent_under_hostile_keys(spark, tmp_path):
    path = str(tmp_path / "ovw")
    pairs = [(k, f"v{i}") for i, k in enumerate(HOSTILE_KEYS)]
    df = _rows(spark, pairs)
    write_keyed_overwrite(df, path, "k", n_buckets=4)
    write_keyed_overwrite(df, path, "k", n_buckets=4)  # retry replays batch
    assert _read_kv(spark, path) == dict(pairs)


def test_keyed_overwrite_partial_upsert_replaces_hostile_keys(spark, tmp_path):
    """A later partial batch must REPLACE the NUL-key and NULL-key rows
    (null-safe key compare), not duplicate them, and carry every
    untouched key forward."""
    path = str(tmp_path / "ovw")
    base = [(k, f"v{i}") for i, k in enumerate(HOSTILE_KEYS)] + [(None, "vN")]
    write_keyed_overwrite(_rows(spark, base), path, "k", n_buckets=4)
    write_keyed_overwrite(
        _rows(spark, [("a\x00b", "v0b"), (None, "vNb")]), path, "k", n_buckets=4
    )
    expect = dict(base)
    expect["a\x00b"] = "v0b"
    expect[None] = "vNb"
    assert _read_kv(spark, path) == expect


def test_keyed_overwrite_stale_full_replay_is_last_writer_wins(spark, tmp_path):
    """Interleaved rerun: base batch → partial update → STALE replay of
    the base batch (a retried upstream job firing late). Per-key
    last-writer-wins: the stale values land, but row count never grows —
    the anti-duplication property is what task/job retries rely on."""
    path = str(tmp_path / "ovw")
    base = [(k, f"v{i}") for i, k in enumerate(HOSTILE_KEYS)]
    df = _rows(spark, base)
    write_keyed_overwrite(df, path, "k", n_buckets=4)
    write_keyed_overwrite(_rows(spark, [("a\x00b", "v0b")]), path, "k", n_buckets=4)
    write_keyed_overwrite(df, path, "k", n_buckets=4)  # stale replay
    assert _read_kv(spark, path) == dict(base)


def test_keyed_overwrite_rerun_over_crashed_attempt_debris(spark, tmp_path):
    """Mid-job crash simulation: a dead attempt leaves a ``_temporary``
    staging dir (FileOutputCommitter never promoted it) inside the
    target path. The retry must succeed and read back clean — staged
    files from the dead attempt must not leak into results."""
    path = str(tmp_path / "ovw")
    pairs = [("k1", "v1"), ("a\x00b", "v2")]
    write_keyed_overwrite(_rows(spark, pairs), path, "k", n_buckets=4)
    # plant dead-attempt debris exactly where a crashed job leaves it
    debris = os.path.join(path, "_temporary", "0", "task_000", "__bucket=0")
    os.makedirs(debris, exist_ok=True)
    with open(os.path.join(debris, "part-orphan.parquet"), "wb") as f:
        f.write(b"\x00not a parquet file")
    write_keyed_overwrite(_rows(spark, pairs), path, "k", n_buckets=4)
    assert _read_kv(spark, path) == dict(pairs)


def test_keyed_json_nul_partition_value_stripped(spark, tmp_path):
    """FLIPPED r13 (queued fix #1): a NUL byte in a partition VALUE used
    to kill the write — Spark's escapePathName escapes '/', '=',
    unicode, '%', control chars like \\n … but NOT \\x00, and POSIX
    path components cannot contain it (TASK_WRITE_FAILED). The pre-write
    normalization now strips NUL, making it the third documented
    non-round-trippable class: 'a\\x00b' reads back as 'ab', and a value
    that strips to '' follows the empty-string → NULL rule."""
    df = spark.createDataFrame(
        [(1, "a\x00b", "p1"), (2, "\x00", "p2")], "id int, k string, payload string"
    ).repartition(1)
    path = str(tmp_path / "nul_part")
    write_keyed_json(df, path, partition_cols=["k"])
    back = {r.id: r.k for r in spark.read.json(path).collect()}
    assert back == {1: "ab", 2: None}


def test_keyed_json_newline_partition_value_round_trips(spark, tmp_path):
    """Contrast pin for the NUL case: \\n and \\r in partition values ARE
    escaped by Spark (%0A/%0D) and round-trip — the crash class is
    exactly the one byte POSIX forbids, nothing wider."""
    df = spark.createDataFrame(
        [(1, "a\nb", "p1"), (2, "a\rb", "p2")], "id int, k string, payload string"
    ).repartition(1)
    path = str(tmp_path / "nl_part")
    write_keyed_json(df, path, partition_cols=["k"])
    back = {r.id: r.k for r in spark.read.json(path).collect()}
    assert back == {1: "a\nb", 2: "a\rb"}


def test_text_rendered_sink_embedded_newline_splits_rows(spark, tmp_path):
    """K2 is LINE-oriented by contract (one rendered record per line,
    prompts_parser.py:63-73): a text payload with an embedded newline
    reads back as two lines. Pinned as documented behavior — renderers
    feeding K2 must escape or strip newlines themselves (the reference's
    render step does; see write_text_rendered docstring)."""
    df = spark.createDataFrame([("two\nlines",), ("one",)], "t string")
    path = str(tmp_path / "txt")
    write_text_rendered(df, "t", path)
    lines = sorted(r.value for r in spark.read.text(path).collect())
    assert lines == ["lines", "one", "two"]
