"""The session memo's one eviction rule (``session.session_memo`` /
``session.refresh``), driven through its real users (``load_table``,
``_t_wide``, ``_lsh_pairs``) with fake sessions: no JVM is started."""

import os
from types import SimpleNamespace

import pytest

import __spark_entry__ as entry_mod
from yandex_tracker_exporter_spark import session
from yandex_tracker_exporter_spark.sources.tables import load_table


class _FakeFrame:
    dtypes = [("doc_id", "bigint"), ("text", "string")]

    def __init__(self):
        self.rdd = SimpleNamespace(getNumPartitions=lambda: 1)

    def repartition(self, n):
        return self

    def localCheckpoint(self, eager):
        return self


class _FakeRDD:
    def __init__(self, rid, freed):
        self.rid, self.freed = rid, freed

    def unpersist(self, blocking):
        self.freed.append(self.rid)


def _fake_spark(app, reads=None, confs=None, live=None):
    def parquet(path):
        if reads is not None:
            reads.append(path)
        return _FakeFrame()

    def conf_set(key, value):
        if confs is not None:
            confs.append(key)

    return SimpleNamespace(
        conf=SimpleNamespace(set=conf_set),
        read=SimpleNamespace(parquet=parquet),
        sparkContext=SimpleNamespace(
            applicationId=app,
            defaultParallelism=4,
            _jsc=SimpleNamespace(getPersistentRDDs=lambda: live or {}),
        ),
    )


@pytest.fixture(autouse=True)
def _isolated_memo(monkeypatch):
    # fake application ids would otherwise evict the live test session's
    # entries from the process-wide memo
    monkeypatch.setattr(session, "_MEMO", {})
    monkeypatch.setattr(session, "_RETIRED", {})


def test_other_application_entries_are_dropped():
    spark_a = _fake_spark("app-A")
    entry_mod._t_wide(spark_a, "sf", "documents")  # read plan + split probe
    session.session_memo(spark_a, ("lsh_pairs", "/sf"), _FakeFrame)
    session.refresh(spark_a, ("lsh_pairs", "/sf"))  # parks one generation
    assert {k[1] for k in session._MEMO} == {"read_plan", "wide_probe"}
    assert list(session._RETIRED) == [("app-A", "lsh_pairs", "/sf")]

    load_table(_fake_spark("app-B"), "sf", "orders")
    assert list(session._MEMO) == [
        ("app-B", "read_plan", os.path.abspath("sf"), "orders")
    ]
    assert session._RETIRED == {}


def test_refresh_parks_exactly_one_generation(monkeypatch):
    freed = []
    live = {rid: _FakeRDD(rid, freed) for rid in (1, 2, 3, 9)}
    blocks = {"gen1": (1, 2), "gen2": (3,), "gen3": ()}
    monkeypatch.setattr(session, "checkpoint_block_ids", blocks.__getitem__)
    spark = _fake_spark("app-A", live=live)
    key = ("dedup_labels", "/sf")
    full = ("app-A", *key)
    gens = iter(blocks)

    assert session.session_memo(spark, key, lambda: next(gens)) == "gen1"
    session.refresh(spark, key)
    assert session._RETIRED == {full: "gen1"} and freed == []
    assert session.session_memo(spark, key, lambda: next(gens)) == "gen2"
    session.refresh(spark, key)
    # gen1's blocks are freed only now; gen2 waits for the next refresh
    assert session._RETIRED == {full: "gen2"} and freed == [1, 2]
    assert session.session_memo(spark, key, lambda: next(gens)) == "gen3"
    session.refresh(spark, key)
    assert session._RETIRED == {full: "gen3"} and freed == [1, 2, 3]
    assert full not in session._MEMO


def test_build_runs_once_per_key(monkeypatch):
    reads, confs = [], []
    spark = _fake_spark("app-A", reads=reads, confs=confs)
    for sf in ("sf", os.path.abspath("sf"), "sf"):
        load_table(spark, sf, "documents")
    # one read per table under either spelling of the directory, while
    # the conf self-heal still runs on every call (two confs per call)
    assert reads == [os.path.join("sf", "documents.parquet")]
    assert len(confs) == 6

    probes = []
    for _ in range(3):
        # a falsy memoized value (a probe's False) is still a hit
        assert session.session_memo(
            spark, ("wide_probe", "/sf", "t"), lambda: probes.append(1) or False
        ) is False
    assert probes == [1]

    lsh_builds = []

    def fake_lsh(docs, *args, **kwargs):
        lsh_builds.append(docs)
        return _FakeFrame()

    monkeypatch.setattr(entry_mod, "minhash_lsh_duplicates", fake_lsh)
    first = entry_mod._lsh_pairs(spark, "sf")
    assert entry_mod._lsh_pairs(spark, os.path.abspath("sf")) is first
    assert len(lsh_builds) == 1


def test_concurrent_sessions_never_see_each_others_entries():
    """Threads of two applications interleave get-or-build and eviction
    (snapshot iteration: no "dictionary changed size" error); every
    call must return its own application's value."""
    import sys
    import threading

    sparks = [_fake_spark("app-A"), _fake_spark("app-B")]
    errors = []

    def worker(i):
        spark = sparks[i % 2]
        app = spark.sparkContext.applicationId
        try:
            for n in range(500):
                key = ("k", n % 7)
                got = session.session_memo(spark, key, lambda: (app, *key))
                if got != (app, *key):
                    errors.append(got)
        except Exception as exc:  # surfaced by the assertion below
            errors.append(exc)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(i,)) for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
