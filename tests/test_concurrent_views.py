"""Concurrent query construction on one SparkSession.

Every one-SQL query registers temp views of its input frames and then
submits one spark.sql text over their names. Two threads constructing
at once must never bind each other's frames: each query leases its
own view names from sqlgen.ViewScope. The race tests hold both
threads between their first view registration and their spark.sql
call, the window in which a shared fixed name is overwritten by the
other thread; every answer must equal its serial answer.
"""

import os
import re
import sys
import threading

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from conftest import SF_DIR, SF_DIR_01
from pgsync_spark import queries as Q
from pgsync_spark.functions import similarity as S
from pgsync_spark.functions.vector_index import VectorIndex
from pgsync_spark.plans.sqlgen import default_scope

_REGISTRARS = ("createOrReplaceTempView", "createOrReplaceGlobalTempView")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _emb(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))


def _queries(emb, lo, hi):
    return emb.filter(
        (F.col("vec_id") >= lo) & (F.col("vec_id") < hi)
    ).select(F.col("vec_id").alias("query_id"), "embedding")


def _threads(fns, on_error=lambda: None):
    """Run each of ``fns`` on its own thread; returns their results
    and re-raises the first failure."""
    out: list = [None] * len(fns)
    errors: list = []

    def run(i):
        try:
            out[i] = fns[i]()
        except BaseException as e:  # noqa: BLE001 — re-raised below
            errors.append(e)
            on_error()

    threads = [threading.Thread(target=run, args=(i,)) for i in range(len(fns))]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]
    return out


def _race(monkeypatch, fns):
    """Run ``fns`` on one thread each; every thread waits after its
    first view registration until all of them have registered one.
    Returns each thread's rows."""
    barrier = threading.Barrier(len(fns), timeout=60)
    racing: set[int] = set()
    waited: set[int] = set()

    def hook(orig):
        def register(self, name):
            orig(self, name)
            me = threading.get_ident()
            if me in racing and me not in waited:
                waited.add(me)
                barrier.wait()

        return register

    for m in _REGISTRARS:
        monkeypatch.setattr(DataFrame, m, hook(getattr(DataFrame, m)))

    def racer(fn):
        def go():
            racing.add(threading.get_ident())
            return _rows(fn())

        return go

    return _threads([racer(f) for f in fns], on_error=barrier.abort)


def test_concurrent_stateless_queries_keep_their_own_views(spark, monkeypatch):
    def fa():
        return Q.text_bm25_topk(spark, SF_DIR)

    def fb():
        return Q.text_bm25_topk(spark, SF_DIR_01)

    serial = [_rows(fa()), _rows(fb())]
    assert serial[0] and serial[0] != serial[1], "vacuous race"
    assert _race(monkeypatch, [fa, fb]) == serial


def test_concurrent_index_topk_keeps_its_own_query_view(spark, monkeypatch):
    emb = _emb(spark, SF_DIR)
    idx = VectorIndex(spark)
    try:
        idx.ingest(emb)

        def fa():
            return idx.topk(_queries(emb, 0, 5), exclude_self=True)

        def fb():
            return idx.topk(_queries(emb, 5, 10), exclude_self=True)

        # serially first: the parts views are memoized, so each racing
        # topk's first registration is its query view
        serial = [_rows(fa()), _rows(fb())]
        assert serial[0] and serial[1], "vacuous race"
        assert _race(monkeypatch, [fa, fb]) == serial
    finally:
        idx.close()


def _slot_keys(scope):
    """(names, distinct keys) of ``scope``'s views: a leased name is
    ``{prefix}_{slot}_{key}``, an owner-level one ``{prefix}_{key}``."""
    names = sorted(scope._names)
    keys = set()
    for n in names:
        rest = n[len(scope.prefix) + 1:]
        m = re.fullmatch(r"\d+_(.*)", rest)
        keys.add(m.group(1) if m else rest)
    return names, keys


def test_concurrent_mixed_queries_match_serial(spark):
    n_threads = 4
    sfs = [SF_DIR if i % 2 == 0 else SF_DIR_01 for i in range(n_threads)]
    embs = {sf: _emb(spark, sf) for sf in set(sfs)}
    idx = VectorIndex(spark)
    try:
        idx.ingest(embs[SF_DIR])

        def work(i):
            sf, emb = sfs[i], embs[sfs[i]]
            qs = _queries(embs[SF_DIR], 5 * i, 5 * i + 5)
            return [
                _rows(Q.text_bm25_topk(spark, sf)),
                _rows(Q.dsir_select(spark, sf)),
                _rows(S.ann_lsh_topk(emb)),
                _rows(S.ann_lsh_topk(S.clustered_corpus(emb))),
                _rows(idx.topk(qs, exclude_self=True)),
                _rows(idx.topk(qs, exclude_self=True)),
            ]

        serial = [work(i) for i in range(n_threads)]
        assert all(all(r) for r in serial), "vacuous (an empty answer)"
        assert serial[0] != serial[1]
        switch = sys.getswitchinterval()
        sys.setswitchinterval(1e-5)  # interleave the lease bookkeeping
        try:
            got = _threads([lambda i=i: work(i) for i in range(n_threads)])
        finally:
            sys.setswitchinterval(switch)
        assert got == serial
        listed = {t.name for t in spark.catalog.listTables("global_temp")}
        for scope in (default_scope(spark), idx._views):
            names, keys = _slot_keys(scope)
            assert set(names) <= listed
            assert len(names) <= n_threads * len(keys), sorted(names)
    finally:
        idx.close()
