"""MR-compat surface tests: oracle parity (the reference's golden-diff
technique, main/test-mr.sh:59-67), mr_run round-trip, and rerun
determinism (the crash test's invariant, main/test-mr.sh:194-203)."""

import contextlib

from pyspark.sql import functions as F

from mapreduce_framework_in_go_spark.operators import mapreduce as mr
from mapreduce_framework_in_go_spark.registry import all_queries

from .oracle import compare, rows_canonical

QUERIES = all_queries()


def test_wordcount_oracle(spark, sf_dir, duck):
    compare(QUERIES["mr_wordcount"].fn(spark, sf_dir), duck, QUERIES["mr_wordcount"].oracle)


def test_inverted_index_oracle(spark, sf_dir, duck):
    q = QUERIES["mr_inverted_index"]
    compare(q.fn(spark, sf_dir), duck, q.oracle)


def test_crash_shape_oracle(spark, sf_dir, duck):
    q = QUERIES["mr_crash_shape"]
    compare(q.fn(spark, sf_dir), duck, q.oracle)


def test_mr_run_wordcount_roundtrip(spark, sf_dir):
    """The generic Map/Reduce UDF contract reproduces the built-in wc
    pipeline exactly (same tokenizer predicate: Unicode category L)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    generic = mr.mr_run(docs, mr.wc_map, mr.wc_reduce)
    builtin = QUERIES["mr_wordcount"].fn(spark, sf_dir).select(
        F.col("word").alias("key"), F.col("cnt").cast("string").alias("value")
    )
    g = rows_canonical(generic.columns, [tuple(r) for r in generic.collect()])
    b = rows_canonical(builtin.columns, [tuple(r) for r in builtin.collect()])
    assert g == b


def test_rerun_determinism(spark, sf_dir):
    """Reference proves crash-safety by output identity across reruns
    (test-mr.sh crash test); our analogue: two independent executions of
    the order-sensitive aggregate hash identically."""
    q = QUERIES["mr_crash_shape"]

    def run():
        d = q.fn(spark, sf_dir)
        return rows_canonical(d.columns, [tuple(r) for r in d.collect()])

    assert run() == run()


def test_task_retry_tolerance(spark, sf_dir):
    """The crash app's real assertion: task failure + re-execution still
    yields oracle-identical output. Inject one task failure via a mapInPandas
    batch that throws on first attempt, rely on spark.task.maxFailures."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    def flaky(batches):
        import os
        import tempfile

        marker = os.path.join(tempfile.gettempdir(), "mr_flaky_marker")
        for pdf in batches:
            if not os.path.exists(marker):
                open(marker, "w").close()
                raise RuntimeError("injected task failure (crash.go analogue)")
            yield pdf

    try:
        out = docs.mapInPandas(flaky, schema=docs.schema)
        n = out.count()
        assert n == docs.count()
    finally:
        import os
        import tempfile

        m = os.path.join(tempfile.gettempdir(), "mr_flaky_marker")
        if os.path.exists(m):
            os.remove(m)


def test_parallelism_probe(spark):
    """mtiming/rtiming analogue (mrapps/mtiming.go:19-62): tasks must
    actually overlap. Each of 8 partitions records its (start, end)
    wall-clock span around a short sleep; at least two spans must
    intersect on local[N>=2]."""
    import pandas as pd

    def probe(batches):
        import time

        start = time.time()
        n = sum(len(pdf) for pdf in batches)
        time.sleep(0.5)
        yield pd.DataFrame({"start": [start], "end": [time.time()], "n": [n]})

    spans = (
        spark.range(8)
        .repartition(8)
        .mapInPandas(probe, schema="start double, end double, n long")
        .collect()
    )
    assert len(spans) == 8
    overlaps = sum(
        1
        for i, a in enumerate(spans)
        for b in spans[i + 1 :]
        if a["start"] < b["end"] and b["start"] < a["end"]
    )
    assert overlaps >= 1, "no two tasks ran concurrently"


def test_whole_file_scan_roundtrip(spark, tmp_path):
    """S1 whole-file source contract (mr/worker.go:194-206): one record
    per file, (doc, content), driven through the generic mr_run word
    count and checked against a hand computation."""
    (tmp_path / "a.txt").write_text("the cat sat\non the mat")
    (tmp_path / "b.txt").write_text("the dog")
    from mapreduce_framework_in_go_spark.sources.tables import scan_text_corpus

    docs = scan_text_corpus(spark, str(tmp_path))
    rows = {r["doc"]: r["content"] for r in docs.collect()}
    assert set(rows) == {"a.txt", "b.txt"}
    assert rows["a.txt"] == "the cat sat\non the mat"

    out = mr.mr_run(docs, mr.wc_map, mr.wc_reduce, doc_col="doc", content_col="content")
    got = {(r["key"], r["value"]) for r in out.collect()}
    assert got == {
        ("the", "3"), ("cat", "1"), ("sat", "1"), ("on", "1"),
        ("mat", "1"), ("dog", "1"),
    }


def test_mid_write_crash_discards_partial_output(spark, sf_dir, tmp_path):
    """S4 commit contract (mr/worker.go:56-82 temp+rename; exercised by
    the reference's worker-respawn loop, main/test-mr.sh:160-192): a
    task that dies MID-SINK-WRITE must leave no partial output. The
    poison yields rows to the text writer first — so the first attempt
    has already opened its task-temp file and written lines — then
    raises; the committer must discard that attempt's file and publish
    only the retry's. Verified by (a) output dir holds only committed
    part-files (no temp/in-progress artifacts), (b) the merged line set
    equals the canonical expected set exactly — no duplicated or torn
    lines from the crashed attempt."""
    import glob
    import os

    from mapreduce_framework_in_go_spark.sources.sinks import kv_lines

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    kv = docs.select(
        F.col("doc_id").cast("string").alias("key"),
        F.length("text").cast("string").alias("value"),
    )
    expected = sorted(r["value"] for r in kv_lines(kv).collect())

    crash_marker = str(tmp_path / "crash_fired")

    def poison(batches):
        from pyspark import TaskContext

        tc = TaskContext.get()
        crash = tc.partitionId() == 0 and tc.attemptNumber() == 0
        for i, pdf in enumerate(batches):
            yield pdf  # rows reach the file writer before the crash
            if crash:
                open(crash_marker, "w").close()
                raise RuntimeError("injected crash mid-sink-write")

    out = str(tmp_path / "crash_out")
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    # several small Arrow batches per task => the writer has consumed
    # (and written) at least one batch before the poison fires
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "50")
    try:
        lines = kv_lines(kv).mapInPandas(poison, schema="value string")
        lines.write.mode("overwrite").text(out)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)

    assert os.path.exists(crash_marker), "poison never fired — test is vacuous"

    files = [os.path.basename(p) for p in glob.glob(os.path.join(out, "*"))]
    assert files, "sink produced no output"
    for f in files:
        assert f == "_SUCCESS" or (
            f.startswith("part-") and not f.endswith((".inprogress", ".tmp"))
        ), f"uncommitted artifact survived: {f}"
    assert "_SUCCESS" in files, "job-level commit marker missing"

    back = sorted(r["value"] for r in spark.read.text(out).collect())
    assert back == expected


# ---------------------------------------------------------------------------
# mr_run + canonical sink: reduce once per key, answers independent of the
# session's physical settings, and the Map contract guard
# ---------------------------------------------------------------------------

_TINY_DOCS = [
    ("d0", "the cat sat on the mat"),
    ("d1", "The dog -- the end."),
    ("d2", "été é éa Éb zed Zed"),
    ("d3", "the the the"),
    ("d4", ""),
    ("d5", "mat, mat; cat"),
    ("d6", "über Über the"),
    ("d7", "a b c d e f g h i"),
    ("d8", "the"),
]


def _tiny_docs(spark):
    return spark.createDataFrame(_TINY_DOCS, "doc string, content string")


def _tiny_oracle() -> list[str]:
    """The sequential oracle's ``mr-out-0`` lines for wc on _TINY_DOCS."""
    from collections import Counter

    counts = Counter(k for doc, text in _TINY_DOCS for k, _ in mr.wc_map(doc, text))
    return sorted(f"{k} {n}" for k, n in counts.items())


def _write_canonical(df, out):
    """Canonical ``write_kv_text``; returns (part files, their lines)."""
    from mapreduce_framework_in_go_spark.sources.sinks import write_kv_text

    write_kv_text(df, str(out), canonical=True)
    parts = sorted(out.glob("part-*"))
    return parts, [line for p in parts for line in p.read_text().splitlines()]


@contextlib.contextmanager
def _conf(spark, settings: dict[str, str]):
    """Set session conf keys for a block, then restore them."""
    old = {k: spark.conf.get(k) for k in settings}
    for k, v in settings.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_mr_run_reduces_each_key_once(spark, tmp_path):
    """Each key reaches Reduce exactly once and a canonical write runs at
    most 3 jobs (map stage, reduce stage, single-file write): no range
    sample or second reduce recomputes the upstream."""
    import uuid

    sc = spark.sparkContext
    calls = sc.accumulator(0)

    def counting_reduce(key, values):
        calls.add(1)
        return str(len(values))

    group = f"reduce-once-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "mr_run reduce-once guard")
    try:
        frame = mr.mr_run(
            _tiny_docs(spark), mr.wc_map, counting_reduce, "doc", "content"
        )
        parts, lines = _write_canonical(frame, tmp_path / "out")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert lines == _tiny_oracle()
    assert calls.value == len(lines)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 3


def test_mr_run_canonical_output_invariant_to_session_settings(spark, tmp_path):
    """The same lines whatever the shuffle-partition count, with AQE off,
    and with 7-row Arrow batches (keys and documents span several
    batches); non-ASCII and capitalised keys land in Python sorted()
    order, as the oracle's sort puts them."""
    expected = _tiny_oracle()
    assert "Éb 1" in expected and "über 1" in expected
    settings = [
        {},
        {"spark.sql.shuffle.partitions": "1"},
        {"spark.sql.shuffle.partitions": "37"},
        {"spark.sql.adaptive.enabled": "false"},
        {"spark.sql.execution.arrow.maxRecordsPerBatch": "7"},
    ]
    for i, conf in enumerate(settings):
        with _conf(spark, conf):
            frame = mr.mr_run(
                _tiny_docs(spark), mr.wc_map, mr.wc_reduce, "doc", "content"
            )
            parts, lines = _write_canonical(frame, tmp_path / f"out{i}")
        assert len(parts) == 1, conf
        assert lines == expected, conf


def test_mr_run_empty_map_writes_one_part_file(spark, tmp_path):
    """A Map that emits nothing still yields the ``mr-out-0`` shape: one
    (empty) part file."""
    frame = mr.mr_run(
        _tiny_docs(spark), lambda doc, text: (), mr.wc_reduce, "doc", "content"
    )
    parts, lines = _write_canonical(frame, tmp_path / "out")
    assert len(parts) == 1
    assert lines == []


def test_mr_run_rejects_non_string_pairs(spark):
    """collect_list drops nulls, so a Map emitting None (or any non-str)
    must fail loudly, naming the plugin contract — never lose values."""
    import pytest

    def none_value(doc, text):
        yield "k", "v"
        yield "k", None

    def int_key(doc, text):
        yield 1, "v"

    for bad in (none_value, int_key):
        frame = mr.mr_run(_tiny_docs(spark), bad, mr.wc_reduce, "doc", "content")
        with pytest.raises(Exception, match=r"KeyValue\{Key, Value string\}"):
            frame.collect()


def test_scan_text_corpus_basename_glob(spark, tmp_path):
    """A wildcard basename reads through pathGlobFilter over its
    directory: the same (doc, content) rows as the files the glob
    names, and nothing else."""
    import glob

    from mapreduce_framework_in_go_spark.sources.tables import scan_text_corpus

    (tmp_path / "pg-a.txt").write_text("alpha\nbeta")
    (tmp_path / "pg-b.txt").write_text("gamma")
    (tmp_path / "notes.md").write_text("not a book")
    (tmp_path / "sub").mkdir()
    (tmp_path / "sub" / "pg-c.txt").write_text("below the glob's directory")
    pattern = str(tmp_path / "pg-*.txt")
    expected = sorted(
        (p.rsplit("/", 1)[-1], open(p).read()) for p in glob.glob(pattern)
    )
    got = sorted(tuple(r) for r in scan_text_corpus(spark, pattern).collect())
    assert got == expected
    whole_dir = {r["doc"] for r in scan_text_corpus(spark, str(tmp_path)).collect()}
    assert whole_dir == {"pg-a.txt", "pg-b.txt", "notes.md"}
