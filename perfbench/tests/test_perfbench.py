"""The benchmark's own tests: seeded inputs, span self time, tail percentile.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench.spans import Span, Tracer  # noqa: E402
from perfbench.stats import percentile, rows_digest, tail_percentile  # noqa: E402


class TestTailPercentile:
    def test_known_counts(self):
        assert tail_percentile(100) == 90
        assert tail_percentile(20) == 50
        assert tail_percentile(11) == 9
        assert tail_percentile(10) is None
        assert tail_percentile(1) is None

    def test_highest_with_ten_beyond(self):
        for n in range(11, 400):
            ordered = list(range(n))

            def beyond(p):
                return sum(1 for x in ordered if x > percentile(ordered, p))

            p = tail_percentile(n)
            assert beyond(p) >= 10, n
            assert p == 99 or beyond(p + 1) < 10, n


class TestSelfTime:
    @staticmethod
    def tracer_with(parent, children):
        tr = Tracer()
        tr.spans.append(Span(0, None, "parent", 0, *parent))
        for i, (lo, hi) in enumerate(children, 1):
            tr.spans.append(Span(i, 0, f"child{i}", 0, lo, hi))
        return tr

    def test_disjoint_children(self):
        tr = self.tracer_with((0.0, 10.0), [(1.0, 3.0), (4.0, 5.0)])
        assert tr.self_time(tr.spans[0]) == pytest.approx(10.0 - 3.0)

    def test_overlapping_and_clipped_children(self):
        # [1,3] and [2,5] overlap (union 4 s); [8,12] is clipped to [8,10]
        tr = self.tracer_with((0.0, 10.0), [(1.0, 3.0), (2.0, 5.0), (8.0, 12.0)])
        assert tr.self_time(tr.spans[0]) == pytest.approx(4.0)

    def test_grandchildren_do_not_count_twice(self):
        tr = self.tracer_with((0.0, 10.0), [(1.0, 6.0)])
        tr.spans.append(Span(2, 1, "grandchild", 0, 2.0, 4.0))
        assert tr.self_time(tr.spans[0]) == pytest.approx(5.0)
        assert tr.self_time(tr.spans[1]) == pytest.approx(3.0)

    def test_recorded_spans_nest(self):
        tr = Tracer()
        with tr.span("outer"):
            with tr.span("inner"):
                pass
        outer, inner = tr.spans
        assert inner.parent == outer.id
        assert 0 <= tr.self_time(outer) <= outer.duration

    def test_patch_and_restore(self):
        class Owner:
            def f(self, x):
                return x + 1

        tr = Tracer()
        tr.patch(Owner, "f", "owner.f")
        assert Owner().f(1) == 2
        assert [s.name for s in tr.spans] == ["owner.f"]
        tr.restore()
        Owner().f(1)
        assert len(tr.spans) == 1


@pytest.fixture(scope="module")
def ctx(tmp_path_factory):
    from types import SimpleNamespace

    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    from usgs_geomag_algorithms_spark.session import get_spark

    spark = get_spark(app_name="perfbench-tests", cores=2, shuffle_partitions=2,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    return SimpleNamespace(spark=spark, root=ROOT, cores=2, tracer=None, traced=False,
                           work=str(tmp_path_factory.mktemp("perfbench")))


def build_digests(ctx, seed: int, tag: str):
    """(input digest, output digest) of one small bulk_build operation."""
    from perfbench.workloads import BulkBuild, read_points

    wl = BulkBuild(seed, n_urls=2)
    ctx.work = os.path.join(os.path.dirname(ctx.work), tag)
    os.makedirs(ctx.work, exist_ok=True)
    wl.setup(ctx)
    points = read_points(wl.pages_path)
    inputs = rows_digest((u, c, int(t), float(v)) for (u, c), (ts, vs) in points.items()
                         for t, v in zip(ts, vs))
    store, _metrics = wl.op(ctx, 0)
    outputs = rows_digest(tuple(r) for tier in ("minute", "hour", "day")
                          for r in store.read(tier).collect())
    assert not wl.check(ctx, 0, (store, _metrics))
    return inputs, outputs


class TestSeeds:
    def test_same_seed_same_digests_other_seed_other_inputs(self, ctx):
        a = build_digests(ctx, 7, "a")
        b = build_digests(ctx, 7, "b")
        c = build_digests(ctx, 8, "c")
        assert a == b
        assert a[0] != c[0]

    def test_serve_requests_follow_the_seed(self):
        from perfbench.workloads import SyncServe

        def requests(seed):
            wl = SyncServe(seed)
            wl.lo, wl.hi, wl.urls = 0, 40 * 86_400_000_000, ["u0", "u1"]
            return wl.make_requests()

        assert requests(1) == requests(1)
        assert requests(1) != requests(2)

    def test_text_tables_follow_the_seed(self, tmp_path):
        from perfbench.textdata import write_tables

        def digest(seed, tag):
            out = tmp_path / tag
            write_tables(str(out), seed)
            return [(out / f"{t}.parquet").read_bytes() for t in ("documents", "embeddings")]

        assert digest(3, "a") == digest(3, "b")
        c = digest(4, "c")
        assert all(x != y for x, y in zip(digest(3, "a"), c))
