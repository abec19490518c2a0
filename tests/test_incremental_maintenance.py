"""Incremental snapshot maintenance (round-11 verdict item 3): after
the corpus grows, the ANN index gains ONLY the new vectors' code rows
via txn MERGE (coded against the FROZEN model, no Lloyd job) and the
dedup endgame is rebuilt on the new corpus and republished — and in
both cases refresh-then-serve is byte-identical to a from-scratch
rebuild on the new corpus under the same semantics."""

import os

import pytest

from tests.conftest import SF_SMOKE


def _split_corpus(spark, tmp_path, table, id_col, mod, rem):
    """base/ and grown/ corpus dirs: grown = the sf0.001 table, base =
    grown minus the (id % mod == rem) delta slice."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    tbl = pq.read_table(f"{SF_SMOKE}/{table}.parquet")
    ids = tbl[id_col].to_pylist()
    keep = [i % mod != rem for i in ids]
    base_dir, grown_dir = tmp_path / "base", tmp_path / "grown"
    base_dir.mkdir(exist_ok=True)
    grown_dir.mkdir(exist_ok=True)
    pq.write_table(tbl.filter(keep), base_dir / f"{table}.parquet")
    pq.write_table(tbl, grown_dir / f"{table}.parquet")
    return str(base_dir), str(grown_dir)


def _canon(df):
    return sorted(tuple(str(v) for v in r) for r in df.collect())


class TestAnnIncremental:
    @pytest.fixture(scope="class")
    def dirs(self, spark, tmp_path_factory):
        tmp = tmp_path_factory.mktemp("ann_incr")
        base, grown = _split_corpus(
            spark, tmp, "embeddings", "vec_id", 100, 97
        )
        root = str(tmp / "root")
        from etl_python_spark.operators.similarity import materialize_ann_index

        versions = materialize_ann_index(spark, base, root)
        assert versions == {"model": 1, "index": 1}
        return base, grown, root

    def test_stale_root_refuses_grown_corpus_until_refreshed(
        self, spark, dirs, monkeypatch
    ):
        from etl_python_spark import operators
        from etl_python_spark.sources.fingerprint import StaleSnapshotError

        base, grown, root = dirs
        monkeypatch.setenv("SPARK_GRAFT_ANN_CACHE", root)
        q = operators.all_queries()["ivf_pq_search"]
        with pytest.raises(StaleSnapshotError):
            q(spark, grown).count()

    def test_merge_is_byte_identical_to_frozen_model_recode(
        self, spark, dirs, monkeypatch
    ):
        from etl_python_spark.operators import similarity as S
        from etl_python_spark.sources.txn import txn_read

        base, grown, root = dirs
        versions = S.refresh_ann_index_incremental(spark, grown, root)
        assert versions == {"index": 2, "model": 2}

        # merged snapshot == from-scratch recode of the grown corpus
        # under the SAME frozen model, byte-for-byte
        centroids, cb = S._snapshot_model(spark, root)
        emb = S._kmeans_emb(spark, grown)
        rebuilt = S._ivf_pq_index(S._unit_emb(emb), centroids, cb)
        merged = txn_read(spark, f"{root}/index")
        assert _canon(merged) == _canon(rebuilt)

        # refresh re-banked the grown fingerprint: serving now works,
        # and with NO Lloyd fit (the index/model are served frozen)
        def boom(*a, **k):
            raise AssertionError("Lloyd fit ran on the incremental path")

        monkeypatch.setattr(S, "_kmeans_fit", boom)
        monkeypatch.setattr(S, "_pq_fit", boom)
        monkeypatch.setenv("SPARK_GRAFT_ANN_CACHE", root)
        from etl_python_spark import operators

        assert operators.all_queries()["ivf_pq_search"](spark, grown).count() == 50

    def test_refresh_runs_no_lloyd_fit(self, spark, dirs, monkeypatch):
        from etl_python_spark.operators import similarity as S

        base, grown, root = dirs

        def boom(*a, **k):
            raise AssertionError("Lloyd fit ran during incremental refresh")

        monkeypatch.setattr(S, "_kmeans_fit", boom)
        monkeypatch.setattr(S, "_pq_fit", boom)
        # idempotent re-run: nothing new to code, still commits cleanly
        versions = S.refresh_ann_index_incremental(spark, grown, root)
        assert versions["index"] >= 3


def test_ann_refreshes_rebank_frozen_tables_without_rewriting(spark, tmp_path):
    """Grow, an empty takedown and a real takedown re-bank the frozen
    tables by metadata-only commits: the model keeps the build's data
    dirs (an index with nothing purged keeps its own), every version
    still advances, the staleness guard accepts the new corpus, and
    vacuum reclaims none of the shared dirs."""
    import pyarrow.parquet as pq

    from etl_python_spark.operators import similarity as S
    from etl_python_spark.sources.fingerprint import check_snapshot_fresh
    from etl_python_spark.sources.txn import read_commit, vacuum_root

    base, grown = _split_corpus(spark, tmp_path, "embeddings", "vec_id", 100, 97)
    tbl = pq.read_table(f"{grown}/embeddings.parquet")
    shrunk = tmp_path / "shrunk"
    shrunk.mkdir()
    pq.write_table(
        tbl.filter([i % 100 != 3 for i in tbl["vec_id"].to_pylist()]),
        shrunk / "embeddings.parquet",
    )
    root = str(tmp_path / "root")
    S.materialize_ann_index(spark, base, root)

    def state(table):
        rec = read_commit(spark, f"{root}/{table}")
        return rec["version"], rec["dirs"]

    model_v, model_dirs = state("model")
    steps = [
        (S.refresh_ann_index_incremental, grown, "changed"),
        (S.refresh_ann_index_on_delete, grown, "kept"),
        (S.refresh_ann_index_on_delete, str(shrunk), "changed"),
    ]
    for refresh, sf_dir, index_dirs in steps:
        index_v, before = state("index")
        assert refresh(spark, sf_dir, root) == {
            "index": index_v + 1,
            "model": model_v + 1,
        }
        model_v += 1
        assert state("model") == (model_v, model_dirs)
        after = state("index")[1]
        assert (after == before) == (index_dirs == "kept"), refresh.__name__
        for table in ("model", "index"):
            check_snapshot_fresh(spark, f"{root}/{table}", sf_dir, "embeddings")

    removed = vacuum_root(spark, root)
    assert "model" not in removed
    for table in ("model", "index"):
        live = set(read_commit(spark, f"{root}/{table}")["dirs"])
        on_disk = {p.name for p in (tmp_path / "root" / table).glob("v-*")}
        assert on_disk == live


class TestDedupIncremental:
    @pytest.fixture(scope="class")
    def dirs(self, spark, tmp_path_factory):
        tmp = tmp_path_factory.mktemp("dedup_incr")
        base, grown = _split_corpus(
            spark, tmp, "documents", "doc_id", 10, 9
        )
        root = str(tmp / "root")
        from etl_python_spark.operators.dedup import materialize_dedup_endgame

        materialize_dedup_endgame(spark, base, root)
        return base, grown, root

    def test_refresh_matches_from_scratch_rebuild(self, spark, dirs, tmp_path):
        """The whole point: the refresh on the grown corpus is
        byte-identical — pairs and components — to a from-scratch
        materialization of the grown corpus."""
        from etl_python_spark.operators.dedup import (
            materialize_dedup_endgame,
            refresh_dedup_endgame_incremental,
        )
        from etl_python_spark.sources.txn import txn_read

        base, grown, root = dirs
        versions = refresh_dedup_endgame_incremental(spark, grown, root)
        assert versions == {"pairs": 2, "components": 2}

        scratch = str(tmp_path / "scratch")
        materialize_dedup_endgame(spark, grown, scratch)
        for table in ("pairs", "components"):
            got = _canon(txn_read(spark, f"{root}/{table}"))
            want = _canon(txn_read(spark, f"{scratch}/{table}"))
            assert got == want, f"{table}: refresh != rebuild"

    def test_refreshed_cache_serves_grown_corpus(self, spark, dirs, monkeypatch):
        """After the refresh the staleness guard accepts the grown
        corpus and the endgame queries serve from the snapshot with
        results identical to inline."""
        from etl_python_spark import operators

        base, grown, root = dirs
        qs = operators.all_queries()
        inline = _canon(qs["dedup_components"](spark, grown))
        monkeypatch.setenv("SPARK_GRAFT_DEDUP_CACHE", root)
        cached = _canon(qs["dedup_components"](spark, grown))
        assert cached == inline

    def test_refresh_is_idempotent(self, spark, dirs):
        """Re-running with no new docs publishes clean no-op versions."""
        from etl_python_spark.operators.dedup import (
            refresh_dedup_endgame_incremental,
        )
        from etl_python_spark.sources.txn import txn_read

        base, grown, root = dirs
        before = _canon(txn_read(spark, f"{root}/pairs"))
        refresh_dedup_endgame_incremental(spark, grown, root)
        assert _canon(txn_read(spark, f"{root}/pairs")) == before


class TestAnnOnDelete:
    """Round-12 late addition: the takedown mirror of growth — purge a
    slice, delete exactly its index rows under the byte-frozen model,
    byte-identical to a from-scratch recode of the survivors."""

    @pytest.fixture(scope="class")
    def dirs(self, spark, tmp_path_factory):
        tmp = tmp_path_factory.mktemp("ann_del")
        shrunk, full = _split_corpus(
            spark, tmp, "embeddings", "vec_id", 100, 3
        )
        root = str(tmp / "root")
        from etl_python_spark.operators.similarity import materialize_ann_index

        materialize_ann_index(spark, full, root)
        return shrunk, full, root

    def test_delete_refresh_is_byte_identical_and_runs_no_fit(
        self, spark, dirs, monkeypatch
    ):
        from etl_python_spark.operators import similarity as S
        from etl_python_spark.sources.txn import txn_read

        shrunk, full, root = dirs

        def boom(*a, **k):
            raise AssertionError("Lloyd fit ran during delete refresh")

        monkeypatch.setattr(S, "_kmeans_fit", boom)
        monkeypatch.setattr(S, "_pq_fit", boom)
        versions = S.refresh_ann_index_on_delete(spark, shrunk, root)
        assert versions == {"index": 2, "model": 2}

        centroids, cb = S._snapshot_model(spark, root)
        rebuilt = S._ivf_pq_index(
            S._unit_emb(S._kmeans_emb(spark, shrunk)), centroids, cb
        )
        assert _canon(txn_read(spark, f"{root}/index")) == _canon(rebuilt)

        # purged ids are gone and the shrunk corpus now serves
        gone = (
            txn_read(spark, f"{root}/index")
            .filter("n_id % 100 = 3")
            .count()
        )
        assert gone == 0
        monkeypatch.setenv("SPARK_GRAFT_ANN_CACHE", root)
        from etl_python_spark import operators

        # the guard accepts the shrunk corpus and the query serves
        # (row count < the full corpus's 50: vec_id 3 was BOTH a query
        # vector and a corpus member, and it is gone — purging shrinks
        # the query batch too, which is exactly right for a takedown)
        assert operators.all_queries()["ivf_pq_search"](spark, shrunk).count() > 0

    def test_delete_refresh_is_idempotent(self, spark, dirs):
        from etl_python_spark.operators import similarity as S
        from etl_python_spark.sources.txn import txn_read

        shrunk, full, root = dirs
        before = _canon(txn_read(spark, f"{root}/index"))
        S.refresh_ann_index_on_delete(spark, shrunk, root)
        assert _canon(txn_read(spark, f"{root}/index")) == before


class TestDedupOnDelete:
    @pytest.fixture(scope="class")
    def dirs(self, spark, tmp_path_factory):
        tmp = tmp_path_factory.mktemp("dedup_del")
        shrunk, full = _split_corpus(spark, tmp, "documents", "doc_id", 10, 3)
        root = str(tmp / "root")
        from etl_python_spark.operators.dedup import materialize_dedup_endgame

        materialize_dedup_endgame(spark, full, root)
        return shrunk, full, root

    def test_delete_refresh_matches_from_scratch_rebuild(
        self, spark, dirs, tmp_path
    ):
        from etl_python_spark.operators.dedup import (
            materialize_dedup_endgame,
            refresh_dedup_endgame_on_delete,
        )
        from etl_python_spark.sources.txn import txn_read

        shrunk, full, root = dirs
        refresh_dedup_endgame_on_delete(spark, shrunk, root)

        scratch = str(tmp_path / "scratch")
        materialize_dedup_endgame(spark, shrunk, scratch)
        for table in ("pairs", "components"):
            got = _canon(txn_read(spark, f"{root}/{table}"))
            want = _canon(txn_read(spark, f"{scratch}/{table}"))
            assert got == want, f"{table}: delete refresh != rebuild"

    def test_refreshed_cache_serves_shrunk_corpus(
        self, spark, dirs, monkeypatch
    ):
        from etl_python_spark import operators

        shrunk, full, root = dirs
        qs = operators.all_queries()
        inline = _canon(qs["dedup_components"](spark, shrunk))
        monkeypatch.setenv("SPARK_GRAFT_DEDUP_CACHE", root)
        assert _canon(qs["dedup_components"](spark, shrunk)) == inline


def _hot_text_corpus(tmp_path, name, n):
    """n copies of one hot text: every shingle has df = n."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / name
    d.mkdir()
    docs = {"doc_id": list(range(n)), "text": ["alpha beta gamma delta epsilon"] * n}
    pq.write_table(pa.table(docs), d / "documents.parquet")
    return str(d)


def _endgame_rows(spark, root):
    from etl_python_spark.sources.txn import txn_read

    return (
        _canon(txn_read(spark, f"{root}/pairs")),
        _canon(txn_read(spark, f"{root}/components")),
    )


def test_cap_crossing_adjustment_is_exact(spark, tmp_path):
    """A hot text held by exactly MAX_DF docs pairs them all; two more
    copies push its shingles over the df cap, so the grow refresh must
    drop every pair through them, exactly as a from-scratch build of
    the grown corpus does."""
    from etl_python_spark.operators.dedup import (
        MAX_DF,
        materialize_dedup_endgame,
        refresh_dedup_endgame_incremental,
    )

    root = str(tmp_path / "root")
    materialize_dedup_endgame(spark, _hot_text_corpus(tmp_path, "at_cap", MAX_DF), root)
    pairs, components = _endgame_rows(spark, root)
    assert (len(pairs), len(components)) == (MAX_DF * (MAX_DF - 1) // 2, MAX_DF)

    grown = _hot_text_corpus(tmp_path, "over_cap", MAX_DF + 2)
    refresh_dedup_endgame_incremental(spark, grown, root)
    assert _endgame_rows(spark, root) == ([], [])
    scratch = str(tmp_path / "scratch")
    materialize_dedup_endgame(spark, grown, scratch)
    assert _endgame_rows(spark, scratch) == ([], [])


def test_cap_recross_addition_is_exact(spark, tmp_path):
    """The takedown mirror: a hot text held by MAX_DF + 2 docs is over
    the df cap (no pairs); purging two holders brings it back to the
    cap, so the takedown refresh must pair every survivor, exactly as
    a from-scratch build of the survivors does."""
    from etl_python_spark.operators.dedup import (
        MAX_DF,
        materialize_dedup_endgame,
        refresh_dedup_endgame_on_delete,
    )

    root = str(tmp_path / "root")
    materialize_dedup_endgame(
        spark, _hot_text_corpus(tmp_path, "over_cap", MAX_DF + 2), root
    )
    assert _endgame_rows(spark, root) == ([], [])

    survivors = _hot_text_corpus(tmp_path, "purged", MAX_DF)
    refresh_dedup_endgame_on_delete(spark, survivors, root)
    pairs, components = _endgame_rows(spark, root)
    assert (len(pairs), len(components)) == (MAX_DF * (MAX_DF - 1) // 2, MAX_DF)
    scratch = str(tmp_path / "scratch")
    materialize_dedup_endgame(spark, survivors, scratch)
    assert _endgame_rows(spark, scratch) == (pairs, components)


class TestRightToBeForgotten:
    """Composed right-to-be-forgotten flagship (round-12 verdict item
    4): ONE purge request drives every mutation the lake must make —
    txn key-frame DELETE on the master corpus table, the training-
    shard rewrite, BOTH cache delete-refreshes, and vacuum on every
    root — and afterwards no serve path shows a trace: master, shards,
    endgame queries, and ANN search all return zero rows for the
    purged ids and byte-match a from-scratch build of the shrunk
    corpus, and no vacuumed version dir survives on disk."""

    @pytest.fixture(scope="class")
    def world(self, spark, tmp_path_factory):
        import shutil

        from etl_python_spark.operators.dedup import (
            materialize_dedup_endgame,
            refresh_dedup_endgame_on_delete,
        )
        from etl_python_spark.operators.similarity import (
            materialize_ann_index,
            refresh_ann_index_on_delete,
        )
        from etl_python_spark.sources.txn import (
            txn_delete_keys,
            txn_read,
            txn_write,
            vacuum,
            vacuum_root,
        )
        from etl_python_spark.sources.writers import write_training_shards

        tmp = tmp_path_factory.mktemp("rtbf")
        (tmp / "docs").mkdir()
        (tmp / "emb").mkdir()
        doc_shrunk, doc_full = _split_corpus(
            spark, tmp / "docs", "documents", "doc_id", 10, 3
        )
        emb_shrunk, emb_full = _split_corpus(
            spark, tmp / "emb", "embeddings", "vec_id", 100, 3
        )

        # the pre-purge world: txn master copy, shards, both caches
        master = str(tmp / "master_documents")
        txn_write(
            spark, spark.read.parquet(f"{doc_full}/documents.parquet"), master
        )
        shards = str(tmp / "shards")
        write_training_shards(
            txn_read(spark, master), shards, shards=4, fmt="json"
        )
        dedup_root = str(tmp / "dedup_root")
        ann_root = str(tmp / "ann_root")
        materialize_dedup_endgame(spark, doc_full, dedup_root)
        materialize_ann_index(spark, emb_full, ann_root)

        # THE PURGE REQUEST: docs doc_id % 10 == 3 (and their vectors,
        # vec_id % 100 == 3), expressed once as key frames
        purged = txn_read(spark, master).filter("doc_id % 10 = 3").select(
            "doc_id"
        )
        txn_delete_keys(spark, master, purged, on=["doc_id"])
        shutil.rmtree(shards)
        write_training_shards(
            txn_read(spark, master), shards, shards=4, fmt="json"
        )
        refresh_dedup_endgame_on_delete(spark, doc_shrunk, dedup_root)
        refresh_ann_index_on_delete(spark, emb_shrunk, ann_root)
        vacuum(spark, master, min_age_seconds=0)
        vacuum_root(spark, dedup_root, min_age_seconds=0)
        vacuum_root(spark, ann_root, min_age_seconds=0)
        return {
            "doc_shrunk": doc_shrunk,
            "emb_shrunk": emb_shrunk,
            "emb_full": emb_full,
            "master": master,
            "shards": shards,
            "dedup_root": dedup_root,
            "ann_root": ann_root,
            "tmp": tmp,
        }

    def test_master_and_disk_hold_no_trace(self, spark, world):
        from pathlib import Path

        from etl_python_spark.sources.txn import read_commit, txn_read

        assert (
            txn_read(spark, world["master"]).filter("doc_id % 10 = 3").count()
            == 0
        )
        # every table root holds ONLY the live snapshot's version dirs
        roots = [world["master"]] + [
            str(t)
            for cache in ("dedup_root", "ann_root")
            for t in Path(world[cache]).iterdir()
            if t.is_dir()
        ]
        for root in roots:
            live = set(read_commit(spark, root)["dirs"])
            on_disk = {
                p.name
                for p in Path(root).iterdir()
                if p.is_dir() and p.name.startswith("v-")
            }
            assert on_disk == live, f"{root}: historical dirs survive vacuum"

    def test_shards_match_from_scratch_rewrite(self, spark, world):
        import glob
        import json

        from etl_python_spark.sources.writers import write_training_shards

        def shard_map(out):
            m = {}
            for d in sorted(glob.glob(f"{out}/shard=*")):
                ids = set()
                for f in glob.glob(f"{d}/part-*"):
                    with open(f) as fh:
                        ids |= {
                            json.loads(line)["doc_id"]
                            for line in fh
                            if line.strip()
                        }
                m[int(d.rsplit("=", 1)[1])] = frozenset(ids)
            return m

        got = shard_map(world["shards"])
        assert all(i % 10 != 3 for ids in got.values() for i in ids)
        scratch = str(world["tmp"] / "shards_scratch")
        write_training_shards(
            spark.read.parquet(f"{world['doc_shrunk']}/documents.parquet"),
            scratch,
            shards=4,
            fmt="json",
        )
        assert got == shard_map(scratch)

    def test_endgame_serve_is_scratch_identical_and_purged_free(
        self, spark, world, tmp_path, monkeypatch
    ):
        from etl_python_spark import operators
        from etl_python_spark.operators.dedup import materialize_dedup_endgame
        from etl_python_spark.sources.txn import txn_read

        root = world["dedup_root"]
        scratch = str(tmp_path / "scratch_endgame")
        materialize_dedup_endgame(spark, world["doc_shrunk"], scratch)
        comp = txn_read(spark, f"{root}/components")
        assert comp.filter("doc_id % 10 = 3").count() == 0
        for table in ("pairs", "components"):
            got = txn_read(spark, f"{root}/{table}")
            want = txn_read(spark, f"{scratch}/{table}")
            assert _canon(got) == _canon(want), table

        qs = operators.all_queries()
        inline = _canon(qs["dedup_components"](spark, world["doc_shrunk"]))
        monkeypatch.setenv("SPARK_GRAFT_DEDUP_CACHE", root)
        assert (
            _canon(qs["dedup_components"](spark, world["doc_shrunk"]))
            == inline
        )

    def test_ann_serve_is_frozen_model_identical_and_purged_free(
        self, spark, world, monkeypatch
    ):
        """The ANN serve ground truth after a takedown is NOT an
        inline re-fit on the shrunk corpus — the model is FROZEN at
        its pre-delete fit (an inline fit would even fail here: the
        purge removed init-sample vector vec_id=3).  Truth = an
        INDEPENDENTLY built cache that runs the same lifecycle
        (full-corpus fit, then the takedown refresh): the composed
        flow must serve byte-identically to it, return results, and
        never surface a purged neighbor."""
        from etl_python_spark import operators
        from etl_python_spark.operators.similarity import (
            materialize_ann_index,
            refresh_ann_index_on_delete,
        )
        from etl_python_spark.sources.txn import txn_read

        root = world["ann_root"]
        assert (
            txn_read(spark, f"{root}/index").filter("n_id % 100 = 3").count()
            == 0
        )
        qs = operators.all_queries()
        scratch = str(world["tmp"] / "ann_scratch")
        materialize_ann_index(spark, world["emb_full"], scratch)
        refresh_ann_index_on_delete(spark, world["emb_shrunk"], scratch)
        monkeypatch.setenv("SPARK_GRAFT_ANN_CACHE", scratch)
        want = _canon(qs["ivf_pq_search"](spark, world["emb_shrunk"]))
        monkeypatch.setenv("SPARK_GRAFT_ANN_CACHE", root)
        served = qs["ivf_pq_search"](spark, world["emb_shrunk"])
        rows = served.collect()
        assert rows, "served search returned nothing"
        assert all(r.n_id % 100 != 3 for r in rows)  # no purged neighbor
        assert _canon(served) == want
