"""t1-style smoke: every queries() entry runs at sf0.001 and matches its
DuckDB oracle under the strict comparator of tools/check_correctness.py
(the same gate that script applies at larger scales)."""

import pytest

import __spark_entry__ as entrymod
from tests.conftest import SF_SMOKE
from tools.check_correctness import compare

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


def test_every_query_is_oracled():
    """Every queries() entry must have an oracle_sql() twin — a name
    registered in QUERIES but not ORACLES is SILENTLY skipped by
    check_correctness (bit round 8: ewma_revenue shipped uncheckable
    for two commits).  The repo policy is zero rows-only queries, so
    key-set equality is the invariant; a deliberate rows-only query
    would move to an explicit allowlist here."""
    assert set(QUERIES) == set(ORACLES), (
        sorted(set(QUERIES) ^ set(ORACLES))
    )


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "vendedor" in df.columns


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_runs(spark, duck, name):
    df = QUERIES[name](spark, SF_SMOKE)
    sp_rows = df.collect()
    assert df.columns, name
    if name not in ORACLES:
        return
    rel = duck.sql(ORACLES[name])
    problems = compare(df.columns, sp_rows, rel.columns, rel.types, rel.fetchall())
    assert not problems, f"{name}: {'; '.join(problems)}"


def test_pq_invariants(spark):
    """PQ encode: every vector gets exactly PQ_M codes in [0, PQ_KS);
    the codebook sample vectors quantize to themselves with zero error."""
    from etl_python_spark.operators import similarity as sim

    df = sim.q_pq_codes(spark, SF_SMOKE)
    rows = df.collect()
    n_vecs = len({r.vec_id for r in rows})
    assert len(rows) == n_vecs * sim.PQ_M
    assert all(0 <= r.code < sim.PQ_KS for r in rows)
    assert all(0 <= r.m < sim.PQ_M for r in rows)
    own = [r for r in rows if sim.PQ_SAMPLE_BASE <= r.vec_id < sim.PQ_SAMPLE_BASE + sim.PQ_KS]
    assert own and all(r.err2 == 0.0 for r in own)
    assert all(r.code == r.vec_id - sim.PQ_SAMPLE_BASE for r in own)


@pytest.mark.parametrize(
    "name,missing",
    [("kmeans_assign", 3), ("kmeans_embeddings", 3), ("pq_codes", 201)],
)
def test_sample_init_matches_oracle_with_an_id_missing(
    spark, tmp_path, name, missing
):
    """The k-means init seeds from the K smallest vec_ids PRESENT and
    the PQ codebook from the KS smallest >= PQ_SAMPLE_BASE, id = rank,
    on both engines.  With vec_id 3 gone, a ``vec_id < K`` init seeded
    only K-1 centroids (the Lloyd update then indexed past them) while
    the oracle dropped a cluster; with 201 gone, the two engines
    numbered the PQ codes differently."""
    import duckdb
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    emb = pq.read_table(f"{SF_SMOKE}/embeddings.parquet")
    emb = emb.filter(pc.not_equal(emb["vec_id"], missing))
    path = str(tmp_path / "embeddings.parquet")
    pq.write_table(emb, path)

    df = QUERIES[name](spark, str(tmp_path))
    sp_rows = df.collect()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{path}'")
    rel = con.sql(ORACLES[name])
    problems = compare(df.columns, sp_rows, rel.columns, rel.types, rel.fetchall())
    assert not problems, f"{name}: {'; '.join(problems)}"
    assert len(sp_rows) > 1


@pytest.mark.parametrize(
    "name",
    ["incremental_dedup", "shard_balance", "outlier_events", "dedup_keep_best",
     "leakage_safe_split", "walk_forward_split", "mad_outliers",
     "heaps_vocab_growth"],
)
def test_partitioning_invariance(spark, name):
    """Scale-correctness property: the result must not depend on the
    shuffle-partition count — a query whose output changes with
    partitioning cannot be trusted on a 1000-executor cluster."""
    fn = QUERIES[name]
    orig = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        a = sorted(map(str, fn(spark, SF_SMOKE).collect()))
        spark.conf.set("spark.sql.shuffle.partitions", "13")
        b = sorted(map(str, fn(spark, SF_SMOKE).collect()))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", orig)
    assert a == b and len(a) > 0


def test_pca_project_recovers_planted_axes(spark, tmp_path):
    """Embeddings with variance planted on two orthogonal patterns in
    dims 0 and 1 (var 25 and 4, exactly decorrelated): the first two
    principal components must be those axes (positive by the sign
    convention) and the projections must reproduce the coordinates."""
    from etl_python_spark.operators import similarity as sim

    n = 40
    rows = []
    for k in range(n):
        a = 1.0 if (k // 2) % 2 == 0 else -1.0  # [1,1,-1,-1] blocks
        b = 1.0 if k % 2 == 0 else -1.0         # [1,-1,1,-1]
        v = [0.0] * sim.EMB_DIM
        v[0], v[1] = 5.0 * a, 2.0 * b
        rows.append((k, v, 0))
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(str(tmp_path / "embeddings.parquet"))

    out = {r.vec_id: r.proj for r in sim.pca_project(
        spark, str(tmp_path), k=3
    ).collect()}
    assert len(out) == n
    for k in range(n):
        a = 5.0 if (k // 2) % 2 == 0 else -5.0
        b = 2.0 if k % 2 == 0 else -2.0
        got = out[k]
        assert abs(got[0] - a) < 1e-3, (k, got)
        assert abs(got[1] - b) < 1e-3, (k, got)
        assert abs(got[2]) < 1e-3  # no variance beyond the two axes


def test_pca_project_pinned_matches_numpy_reference(spark):
    """The oracled pca_project surface: quantized int64 matmul against
    the PINNED component literals must equal an independent numpy
    restatement of the same exact-integer pipeline (micro-quantize ->
    int64 dot -> floor to micro-units)."""
    import numpy as np
    import pyarrow.parquet as pq

    from etl_python_spark.operators import similarity as sim

    tbl = pq.read_table(SF_SMOKE + "/embeddings.parquet").to_pydict()
    comps = np.array(sim.PCA_PINNED_NANO, dtype="int64")
    assert comps.shape == (sim.PCA_COMPONENTS, sim.EMB_DIM)
    expect = {}
    for vid, emb in zip(tbl["vec_id"], tbl["embedding"]):
        qa = np.floor(np.asarray(emb, dtype="float64") * 1e6 + 0.5).astype(
            "int64"
        )
        raw = qa @ comps.T
        for pc in range(sim.PCA_COMPONENTS):
            expect[(vid, pc)] = int(np.floor(raw[pc] / 1e9 + 0.5))

    rows = sim.q_pca_project(spark, SF_SMOKE).collect()
    assert len(rows) == len(expect)
    for r in rows:
        assert expect[(r.vec_id, r.pc)] == r.proj_micro, (r.vec_id, r.pc)
