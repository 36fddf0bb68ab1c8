"""Query paging (service/pager/QueryPager.java family;
AggregationQueryPager.java:39,107 — GROUP BY pages count GROUPS and
only ever contain complete groups; PagingState.java:49 — opaque
resumable position; DataLimits — LIMIT counts across pages)."""

from __future__ import annotations

import pytest

from cassandra_pmem_spark.cql.validator import InvalidRequest


@pytest.fixture()
def db(spark):
    from cassandra_pmem_spark.cql.ddl import CqlDatabase

    d = CqlDatabase(spark)
    d.execute("CREATE KEYSPACE pgks WITH REPLICATION = {'class': 'SimpleStrategy'}")
    d.execute("USE pgks")
    d.execute("CREATE TABLE t (k int, c int, v int, PRIMARY KEY (k, c))")
    for k in range(6):
        for c in range(4):
            d.execute(
                "INSERT INTO t (k, c, v) VALUES (?, ?, ?)", [k, c, 10 * k + c]
            )
    return d


def drain(pager):
    pages = []
    while not pager.is_exhausted():
        page = pager.fetch_page()
        if page:
            pages.append(page)
    return pages


class TestRowPager:
    def test_pages_cover_everything_once(self, db):
        p = db.pager("SELECT k, c, v FROM t", page_size=7)
        pages = drain(p)
        rows = [tuple(sorted(r.items())) for pg in pages for r in pg]
        assert len(rows) == 24 and len(set(rows)) == 24
        assert [len(pg) for pg in pages] == [7, 7, 7, 3]

    def test_token_then_clustering_order(self, db):
        from cassandra_pmem_spark.cql.parser import _scalar_token

        meta = db.registry.tables[("pgks", "t")]
        toks = {k: _scalar_token(meta, (k,)) for k in range(6)}
        expect = [
            (k, c)
            for k in sorted(range(6), key=lambda k: toks[k])
            for c in range(4)
        ]
        p = db.pager("SELECT k, c FROM t", page_size=5)
        got = [(r["k"], r["c"]) for pg in drain(p) for r in pg]
        assert got == expect

    def test_single_partition_clustering_pages(self, db):
        p = db.pager("SELECT c, v FROM t WHERE k = 3", page_size=3)
        pages = drain(p)
        assert [[r["c"] for r in pg] for pg in pages] == [[0, 1, 2], [3]]

    def test_reversed_order(self, db):
        p = db.pager(
            "SELECT c FROM t WHERE k = 2 ORDER BY c DESC", page_size=3
        )
        got = [r["c"] for pg in drain(p) for r in pg]
        assert got == [3, 2, 1, 0]

    def test_limit_counts_across_pages(self, db):
        p = db.pager("SELECT k, c FROM t LIMIT 10", page_size=4)
        pages = drain(p)
        assert [len(pg) for pg in pages] == [4, 4, 2]
        assert p.max_remaining() == 0

    def test_state_round_trip_resumes(self, db):
        p = db.pager("SELECT k, c, v FROM t", page_size=9)
        first = p.fetch_page()
        blob = p.state()
        assert isinstance(blob, bytes)
        # a NEW pager for the same statement continues from the blob
        q = db.pager("SELECT k, c, v FROM t", page_size=9, state=blob)
        rest = [r for pg in drain(q) for r in pg]
        all_rows = [tuple(sorted(r.items())) for r in first + rest]
        assert len(all_rows) == 24 and len(set(all_rows)) == 24

    def test_page_sees_writes_between_fetches(self, db):
        # no snapshot isolation across pages, like the reference's
        # per-page ReadCommands
        p = db.pager("SELECT k, c FROM t WHERE k = 1", page_size=3)
        assert len(p.fetch_page()) == 3
        db.execute("INSERT INTO t (k, c, v) VALUES (1, 9, 99)")
        assert [r["c"] for r in p.fetch_page()] == [3, 9]

    def test_distinct_partitions_page(self, db):
        p = db.pager("SELECT DISTINCT k FROM t", page_size=4)
        pages = drain(p)
        ks = [r["k"] for pg in pages for r in pg]
        assert sorted(ks) == list(range(6)) and [len(pg) for pg in pages] == [4, 2]

    def test_exhausted_state_is_none(self, db):
        p = db.pager("SELECT k FROM t", page_size=100)
        assert len(p.fetch_page()) == 24
        assert p.is_exhausted() and p.state() is None and p.fetch_page() == []


class TestGroupPager:
    def test_group_pages_are_complete_groups(self, db):
        p = db.pager(
            "SELECT k, count(v) AS cnt FROM t GROUP BY k", page_size=4
        )
        pages = drain(p)
        assert [len(pg) for pg in pages] == [4, 2]
        for pg in pages:
            # every group complete: all 4 clustering rows aggregated
            assert all(r["cnt"] == 4 for r in pg)

    def test_group_by_pk_and_clustering_prefix(self, db):
        p = db.pager(
            "SELECT k, c, sum(v) AS s FROM t GROUP BY k, c", page_size=10
        )
        pages = drain(p)
        assert [len(pg) for pg in pages] == [10, 10, 4]
        got = {(r["k"], r["c"]): r["s"] for pg in pages for r in pg}
        assert got == {(k, c): 10 * k + c for k in range(6) for c in range(4)}

    def test_group_limit_counts_groups(self, db):
        p = db.pager(
            "SELECT k, count(*) AS n FROM t GROUP BY k LIMIT 5", page_size=2
        )
        pages = drain(p)
        assert [len(pg) for pg in pages] == [2, 2, 1]


class TestGlobalAggAndGates:
    def test_global_agg_single_page(self, db):
        p = db.pager("SELECT count(*) AS n FROM t", page_size=1)
        page = p.fetch_page()
        assert len(page) == 1 and page[0]["n"] == 24
        assert p.is_exhausted()

    def test_per_partition_limit_pages(self, db):
        # PPL caps each partition's contribution; pages stay row-counted
        # and a straddled partition resumes at rank consumed+1
        p = db.pager("SELECT k, c FROM t PER PARTITION LIMIT 3", page_size=5)
        pages = drain(p)
        rows = [(r["k"], r["c"]) for pg in pages for r in pg]
        assert [len(pg) for pg in pages] == [5, 5, 5, 3]
        assert len(rows) == 18 and len(set(rows)) == 18
        from collections import Counter

        per_k = Counter(k for k, _c in rows)
        assert all(per_k[k] == 3 for k in range(6))
        # each partition contributes exactly its FIRST 3 clustering rows
        assert all(c in (0, 1, 2) for _k, c in rows)

    def test_bad_state_rejected(self, db):
        with pytest.raises(InvalidRequest, match="paging state"):
            db.pager("SELECT k FROM t", page_size=3, state=b"garbage")

    def test_zero_page_size_rejected(self, db):
        with pytest.raises(InvalidRequest, match="strictly positive"):
            db.pager("SELECT k FROM t", page_size=0)


class TestViewPaging:
    def test_pager_over_materialized_view(self, db):
        db.execute(
            "CREATE MATERIALIZED VIEW byc AS SELECT k, c, v FROM t "
            "WHERE k IS NOT NULL AND c IS NOT NULL "
            "PRIMARY KEY (c, k)"
        )
        p = db.pager("SELECT c, k, v FROM byc", page_size=10)
        pages = drain(p)
        assert [len(pg) for pg in pages] == [10, 10, 4]
        got = {(r["c"], r["k"]): r["v"] for pg in pages for r in pg}
        assert got == {
            (c, k): 10 * k + c for k in range(6) for c in range(4)
        }


class TestMixedClusteringOrder:
    def test_prefix_order_by_flips_all_clustering(self, db):
        # table with (c1 ASC, c2 DESC): ORDER BY c1 DESC means the FULL
        # reversal — c2 becomes ASC (SelectStatement's reversed check);
        # the pager must page in that effective order
        db.execute(
            "CREATE TABLE mx (k int, c1 int, c2 int, v int, "
            "PRIMARY KEY (k, c1, c2)) "
            "WITH CLUSTERING ORDER BY (c1 ASC, c2 DESC)"
        )
        for c1 in range(3):
            for c2 in range(3):
                db.execute(
                    "INSERT INTO mx (k, c1, c2, v) VALUES (1, ?, ?, ?)",
                    [c1, c2, c1 * 10 + c2],
                )
        p = db.pager(
            "SELECT c1, c2 FROM mx WHERE k = 1 ORDER BY c1 DESC",
            page_size=4,
        )
        got = [(r["c1"], r["c2"]) for pg in drain(p) for r in pg]
        expect = [(c1, c2) for c1 in (2, 1, 0) for c2 in (0, 1, 2)]
        assert got == expect

    def test_declared_mixed_order_pages(self, db):
        db.execute(
            "CREATE TABLE mx2 (k int, c1 int, c2 int, "
            "PRIMARY KEY (k, c1, c2)) "
            "WITH CLUSTERING ORDER BY (c1 ASC, c2 DESC)"
        )
        for c1 in range(2):
            for c2 in range(3):
                db.execute(
                    "INSERT INTO mx2 (k, c1, c2) VALUES (1, ?, ?)", [c1, c2]
                )
        p = db.pager("SELECT c1, c2 FROM mx2 WHERE k = 1", page_size=4)
        got = [(r["c1"], r["c2"]) for pg in drain(p) for r in pg]
        assert got == [(c1, c2) for c1 in (0, 1) for c2 in (2, 1, 0)]


class TestCliFetchSize:
    def test_cli_paged_select(self, db, spark):
        from cassandra_pmem_spark.__main__ import run_statement

        out = run_statement(
            db, spark, "SELECT k, c FROM t", "/root/testdata/sf0.001",
            max_rows=50, fetch_size=7,
        )
        assert "(24 rows in 4 pages of 7)" in out

    def test_cli_facade_select_falls_through(self, db, spark):
        # a parquet-facade table isn't in the registry: --fetch-size
        # must fall back to the unpaged path, not error
        from cassandra_pmem_spark.__main__ import run_statement

        out = run_statement(
            db, spark, "SELECT n_name FROM nation LIMIT 3",
            "/root/testdata/sf0.001", max_rows=50, fetch_size=5,
        )
        assert "rows shown" in out


class TestPagingContractGrid:
    def test_pages_equal_unpaged_across_grid(self, db):
        # the paging CONTRACT: for every (page_size, limit) combination,
        # concatenated pages reproduce the unpaged statement exactly —
        # same rows, same order, full pages then the remainder
        from cassandra_pmem_spark.cql.parser import _scalar_token

        meta = db.registry.tables[("pgks", "t")]
        order = sorted(range(6), key=lambda k: _scalar_token(meta, (k,)))
        full = [(k, c) for k in order for c in range(4)]
        # one combo per regime: tiny pages, mid with a binding limit,
        # page==total, page>total with an over-limit
        for page_size, limit in (
            (3, None), (5, 10), (7, 24), (24, None), (40, 50), (7, 1),
        ):
            if True:
                cql = "SELECT k, c FROM t" + (
                    f" LIMIT {limit}" if limit is not None else ""
                )
                p = db.pager(cql, page_size=page_size)
                pages = drain(p)
                got = [(r["k"], r["c"]) for pg in pages for r in pg]
                want = full[: min(limit, 24)] if limit is not None else full
                assert got == want, (page_size, limit)
                n = len(want)
                expect_sizes = [page_size] * (n // page_size)
                if n % page_size:
                    expect_sizes.append(n % page_size)
                assert [len(pg) for pg in pages] == expect_sizes, (
                    page_size, limit,
                )

    def test_resume_at_every_cut_point(self, db):
        # serialize/resume mid-stream at several cut points: the resumed
        # pager continues exactly where the original stopped
        base = db.pager("SELECT k, c FROM t", page_size=24)
        full = [(r["k"], r["c"]) for r in base.fetch_page()]
        for cut in (1, 3):
            p = db.pager("SELECT k, c FROM t", page_size=7)
            seen = []
            for _ in range(cut):
                seen.extend((r["k"], r["c"]) for r in p.fetch_page())
            blob = p.state()
            q = db.pager("SELECT k, c FROM t", page_size=7, state=blob)
            rest = [(r["k"], r["c"]) for pg in drain(q) for r in pg]
            assert seen + rest == full, cut


class TestParquetBackedFramePersistGate:
    """The page-frame memo persists ONLY buffer-backed visible state: a
    parquet-backed table's visible frame is unbounded, and an
    InMemoryRelation above the scan would block resume-filter pushdown
    (mirrors ddl._visible_frame's own persist gate)."""

    def test_parquet_backed_frame_reused_but_not_persisted(
        self, db, spark, tmp_path
    ):
        db.execute("CREATE TABLE t2 (k int, c int, v int, PRIMARY KEY (k, c))")
        pq = str(tmp_path / "t2_base")
        spark.createDataFrame(
            [(k, c, 10 * k + c) for k in range(6) for c in range(4)],
            "k int, c int, v int",
        ).write.parquet(pq)
        key = db._table_key("t2")
        db._session_for_key(key)._base = spark.read.parquet(pq)
        assert db._buffer_backed("t2") is False
        assert db._buffer_backed("t") is True  # the insert-built fixture

        p = db.pager("SELECT k, c, v FROM t2", page_size=7)
        pages = drain(p)
        assert sorted((r["k"], r["c"]) for pg in pages for r in pg) == [
            (k, c) for k in range(6) for c in range(4)
        ]
        # memo still reused across pages (db-level since r14, keyed by
        # the statement's structural repr)
        ver, frame = db._pager_frames[repr(p._st)]
        assert frame.storageLevel.useMemory is False
        plan = frame._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" not in plan

        # buffer-backed pager keeps the persist (page N reuses the
        # already-hashed token rows)
        pb = db.pager("SELECT k, c FROM t", page_size=7)
        pb.fetch_page()
        _, bframe = db._pager_frames[repr(pb._st)]
        assert bframe.storageLevel.useMemory is True

    def test_resumed_pager_reuses_compiled_frame(self, db):
        # a pager RESUMED from a PagingState over the same statement must
        # hit the db-level frame memo instead of re-compiling (r14: the
        # memo moved from the pager instance to the database)
        p = db.pager("SELECT k, c FROM t", page_size=7)
        p.fetch_page()
        f1 = db._pager_frames[repr(p._st)][1]
        q = db.pager("SELECT k, c FROM t", page_size=7, state=p.state())
        q.fetch_page()
        assert db._pager_frames[repr(q._st)][1] is f1

    def test_version_tick_evicts_every_frame_of_the_table(self, db):
        # a write makes every memoized page frame of the table stale, so
        # re-paging ONE statement evicts and unpins the other's frame too
        pa = db.pager("SELECT k, c FROM t", page_size=7)
        pa.fetch_page()
        pb = db.pager("SELECT k, v FROM t", page_size=7)
        pb.fetch_page()
        stale_b = db._pager_frames[repr(pb._st)][1]
        assert stale_b.storageLevel.useMemory is True
        db.execute("INSERT INTO t (k, c, v) VALUES (?, ?, ?)", [9, 0, 90])
        pa2 = db.pager("SELECT k, c FROM t", page_size=7)
        pa2.fetch_page()
        assert repr(pb._st) not in db._pager_frames
        assert stale_b.storageLevel.useMemory is False
        assert db._pager_frames[repr(pa2._st)][1].storageLevel.useMemory is True
