"""Query registry invariants: every query has a non-empty oracle under the
same name, and queries that stage input files leave no per-run directory
behind."""

import glob
import os
import tempfile

import __spark_entry__ as entry


def test_every_query_has_an_oracle_and_no_oracle_is_orphaned():
    qs = entry.queries()
    oracles = entry.oracle_sql()
    assert set(oracles) == set(qs)
    assert not [name for name, sql in oracles.items() if not sql.strip()]


def test_staging_queries_leave_no_temp_dirs(spark):
    """archive_datasets rebuilds one stable per-uid tree in place;
    streaming_extract removes its input tree before returning."""
    tmp = tempfile.gettempdir()

    def staged() -> set[str]:
        return {
            d
            for prefix in ("doctr_spark_archives_", "doctr_spark_stream_q_")
            for d in glob.glob(os.path.join(tmp, prefix + "*"))
        }

    before = staged()
    results = []
    for _ in range(2):
        results.append(
            {
                # neither query reads the scale-factor tables
                name: sorted(map(tuple, entry.queries()[name](spark, "").collect()))
                for name in ("archive_datasets", "streaming_extract")
            }
        )
    assert results[0] == results[1]
    stable = os.path.join(tmp, f"doctr_spark_archives_{os.getuid()}")
    assert staged() - before <= {stable}
