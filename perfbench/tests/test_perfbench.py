"""Self-tests of the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

import pathlib
import random
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))

import batch  # noqa: E402
import datagen  # noqa: E402
import serve_rw  # noqa: E402
from stats import digest, tail  # noqa: E402


def test_tail_is_highest_percentile_with_ten_beyond():
    values = [float(i) for i in range(1, 101)]  # 1..100
    value, pct, n = tail(values)
    assert (value, pct, n) == (90.0, 90.0, 100)
    assert sum(v > value for v in values) == 10


def test_tail_with_too_few_samples_reports_the_maximum():
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
    assert tail([]) == (0.0, 0.0, 0)
    value, pct, _ = tail([float(i) for i in range(11)])
    assert value == 0.0 and sum(v > value for v in range(11)) == 10


def _serve_stream(seed):
    rng = random.Random(seed)
    reads = [serve_rw.read_params(rng) for _ in range(20)]
    writes = [serve_rw.write_plan(rng, e) for e in range(3)]
    return reads, writes


def test_same_seed_same_parameter_stream():
    assert _serve_stream(7) == _serve_stream(7)
    assert _serve_stream(7) != _serve_stream(8)
    starts = list(range(100, 200))
    assert batch.job_params(7, starts) == batch.job_params(7, starts)
    assert batch.job_params(7, starts) != batch.job_params(8, starts)
    assert set(batch.job_params(7, starts)["bfs_start"]) <= set(starts)


def test_reads_stay_clear_of_write_targets():
    reads, writes = _serve_stream(3)
    assert all(p["custkey"] < serve_rw.WRITE_ZONE for p in reads)
    for plan, expected in writes:
        assert [kind for kind, *_ in plan] == serve_rw.WRITE_KINDS
        keys = [int(name.split("#")[1]) for name, _ in expected
                if name.startswith("Customer#")]
        assert keys and all(k >= serve_rw.WRITE_ZONE for k in keys)


def test_same_seed_same_inputs():
    a, b = datagen.tables(5), datagen.tables(5)
    assert a.keys() == b.keys()
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["customer"].equals(datagen.tables(6)["customer"])
    assert a["customer"].num_rows == datagen.ROWS["customer"]
    assert a["documents"].num_rows == datagen.N_BASE_DOCS * datagen.MIRRORS


def test_digest_is_order_independent_and_stable():
    rows = [(1, "a", 0.1 + 0.2), (2, "b", None), (3, "c", [1.0, 2.0])]
    assert digest(rows) == digest(list(reversed(rows)))
    assert digest(rows) == digest([(1, "a", 0.3), (2, "b", None), (3, "c", [1.0, 2.0])])
    assert digest(rows) != digest(rows[:2])
    assert digest(rows) != digest([(1, "a", 0.31), *rows[1:]])
    # recorded values: a digest must not change between versions
    assert digest([(1, "x", 2.5)]) == (1, 12307272846662602333)
    assert digest([(1, "a", 0.3), (2, "b", None)]) == (2, 4427847235250272289)
    assert digest([]) == (0, 0)
