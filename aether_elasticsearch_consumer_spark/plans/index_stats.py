"""The index stats row: the one reader and writer of ``stats/data``.

Reference parity: the consumer keeps one source of truth for an index's
layout — it derives the mapping, stores its hash, and migrates when the
hash changes (consumer/app/index_handler.py:188-218). Here those facts
sit in the one-row ``stats/data`` every index carries: corpus size and
mean length, the mean length its block bounds were computed against,
and the four layout settings a delta must share with its base to merge.
A row that predates format v4 fails with ``IndexFormatError``.
"""

from __future__ import annotations

from collections import namedtuple
from collections.abc import Callable
from dataclasses import asdict, dataclass, fields
from pathlib import Path

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq

STATS_SCHEMA = pa.schema(
    [
        ("N", pa.int64()),
        ("avgdl", pa.float64()),
        # the avgdl the block max_impacts were computed against (a merge
        # keeps the MIN over its inputs that have tokens; see live_stats)
        ("build_avgdl", pa.float64()),
        ("docs_per_segment", pa.int64()),
        ("term_buckets", pa.int32()),
        ("profile", pa.string()),
        ("positions", pa.bool_()),
    ]
)

LiveStats = namedtuple("LiveStats", "N avgdl bound_scale n_deleted")


class IndexFormatError(ValueError):
    """An index directory that lacks what format v4 requires: a stats-row
    column, or the doc_id statistics in its docs footers."""


@dataclass(frozen=True)
class IndexStats:
    N: int
    avgdl: float
    build_avgdl: float
    docs_per_segment: int
    term_buckets: int
    profile: str
    positions: bool

    def layout(self) -> dict:
        """The ``IndexBuilder`` kwargs that fix the on-disk layout: two
        indexes merge only when these are equal."""
        return dict(docs_per_segment=self.docs_per_segment,
                    term_buckets=self.term_buckets, profile=self.profile,
                    with_positions=self.positions)


def read_stats(index_dir: str | Path) -> IndexStats:
    """The stats row of the index at ``index_dir`` (pyarrow, no Spark job)."""
    tbl = pq.read_table(Path(index_dir) / "stats" / "data")
    missing = [n for n in STATS_SCHEMA.names if n not in tbl.column_names]
    if missing:
        raise IndexFormatError(
            f"{index_dir}: stats row lacks the format-v4 column(s) "
            f"{missing}; rebuild the index"
        )
    row = tbl.slice(0, 1).to_pylist()[0]
    return IndexStats(**{f.name: row[f.name] for f in fields(IndexStats)})


def write_stats(out_dir: str | Path, stats: IndexStats) -> None:
    """Write ``stats`` as the one-row ``<out_dir>/data`` parquet file."""
    row = asdict(stats)
    data = Path(out_dir, "data")
    data.mkdir(parents=True)
    pq.write_table(
        pa.table({n: [row[n]] for n in STATS_SCHEMA.names}, schema=STATS_SCHEMA),
        str(data / "part-00000.parquet"),
    )


def live_stats(
    index_dir: str | Path, stats: IndexStats, doclens: Callable[[], ds.Dataset]
) -> LiveStats:
    """N and avgdl over the live (non-tombstoned) docs, exact: deleted
    counts and lengths come from the deletes sidecar, the total length
    from the doclens sidecar dataset ``doclens()``, called only when docs
    are deleted. ``bound_scale`` is avgdl/build_avgdl floored at 1, the
    factor a reader inflates stored block bounds by; a build_avgdl of 0
    means no doc had a token, so no bound to inflate."""
    from .tombstones import delete_stats, has_deletes

    d = Path(index_dir)
    n, avgdl = stats.N, stats.avgdl
    dels = delete_stats(d) if has_deletes(d) else {"n_deleted": 0}
    if dels["n_deleted"]:
        lens = doclens().to_table(columns=["sum_len"])["sum_len"]
        total_len = int(pc.sum(lens).as_py())
        n -= dels["n_deleted"]
        avgdl = (total_len - dels["deleted_len"]) / n if n > 0 else 1.0
    bound = max(1.0, avgdl / stats.build_avgdl) if stats.build_avgdl else 1.0
    return LiveStats(n, avgdl, bound, dels["n_deleted"])
