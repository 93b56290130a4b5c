"""The collector's job budget on a batch whose every record is malformed,
in the default profile: such a batch is archived and quarantined, and the
store is not rewritten for zero new rows. The other batch shapes' budgets
(4 jobs with a malformed record, 3 when clean, none written when empty)
are in tests/test_app.py."""

from __future__ import annotations

from .test_app import _collector, _jobs_of_run, _land_lines, _parquet_files, _record_line


def test_all_malformed_batch_skips_the_store_merge(spark, tmp_path):
    """Draining an all-malformed file into an existing store costs 2 Spark
    jobs (archive and quarantine append); the store's files are the same
    files, untouched, and every record is counted as malformed."""
    landing = tmp_path / "landing"
    landing.mkdir()
    c = _collector(spark, tmp_path, landing)
    _land_lines(landing, "a.json", [_record_line(i) for i in range(20)])
    c.run(timeout_s=300)
    store = _parquet_files(c.store_path)
    assert store
    _land_lines(
        landing, "b.json", [_record_line(i, bad_body=True) for i in range(20, 25)]
    )
    jobs, stats = _jobs_of_run(spark, c)
    c.stop()
    assert jobs == 2
    assert _parquet_files(c.store_path) == store
    assert stats["malformed"]["count"] == 5
    assert stats["message-ingested"]["count"] == 25
    assert spark.read.parquet(c.quarantine_path).count() == 5
    assert spark.read.parquet(c.archive_path).count() == 25
