"""Synonym-driven workbook sweep (sources/sweep.py) vs the reference
semantics of Algoritmo de Varredura - Planilhas.py: header-row
discovery under noise, canonical renames, per-sheet defaults, SKU/QTDE
cleanup, skipped sheets, consolidation order + id."""

from __future__ import annotations

import pytest

from etl_python_spark.sources import xlsx
from etl_python_spark.sources.sweep import (
    find_header_mapping,
    normalize_header_cell,
    sweep_workbook,
)


def test_normalize_header_cell():
    assert normalize_header_cell("  Descrição ") == "DESCRICAO"
    assert normalize_header_cell("Depósito") == "DEPOSITO"
    assert normalize_header_cell(None) == ""
    assert normalize_header_cell(12.5) == "12.5"


def test_find_header_mapping_scans_past_noise():
    rows = [
        ["INVENTÁRIO GERAL", None, None],
        [None, None, None],
        ["Código", "Descrição", "Quantidade"],   # the real header, row 2
        ["A1", "parafuso", 10],
    ]
    hit = find_header_mapping(rows)
    assert hit is not None
    idx, mapping = hit
    assert idx == 2
    assert mapping == {0: "SKU", 1: "DESCRICAO", 2: "QTDE"}
    # a sheet without the required categories yields None
    assert find_header_mapping([["só", "texto"], ["a", "b"]]) is None


def test_sweep_workbook_consolidates(spark, tmp_path):
    p = str(tmp_path / "inventario.xlsx")
    xlsx.write_xlsx(
        p,
        {
            # header buried under two noise rows; synonym headers;
            # no DEPOSITO column -> defaults to the sheet name
            "CD-Leste": (
                ["RELATÓRIO", ""],
                [
                    ["", ""],
                    ["Código", "Qtd"],
                    ["A10.0", "5"],
                    ["b20", "7.5"],
                    ["", "9"],        # empty SKU dropped
                ],
            ),
            # different synonyms + explicit deposito + descricao
            "CD-Oeste": (
                ["EAN", "Saldo", "Armazém", "Detalhe"],
                [
                    ["X1", "3", "G2", "caixa"],
                    ["X2", "abc", "G2", None],   # non-numeric qtde -> 0
                ],
            ),
            # no SKU/QTDE synonyms at all -> skipped
            "Notas": (["Comentário"], [["livre"]]),
        },
    )
    out = sweep_workbook(spark, p)
    rows = {r.sku: r for r in out.collect()}
    # Excel-float tail stripped, uppercased
    assert set(rows) == {"A10", "B20", "X1", "X2"}
    assert rows["A10"].qtde == 5.0 and rows["B20"].qtde == 7.5
    assert rows["X2"].qtde == 0.0                  # coercion fill
    assert rows["A10"].deposito == "CD-Leste"      # sheet-name default
    assert rows["X1"].deposito == "G2"             # explicit wins
    assert rows["A10"].descricao == "NÃO INFORMADO"
    assert rows["X1"].descricao == "caixa"
    assert rows["A10"].origem_aba == "CD-Leste"
    # consolidated ordering + 1-based id
    ordered = sorted(rows.values(), key=lambda r: r.id)
    assert [r.id for r in ordered] == [1, 2, 3, 4]
    assert [(r.deposito, r.sku) for r in ordered] == sorted(
        (r.deposito, r.sku) for r in rows.values()
    )


def test_sweep_workbook_no_qualifying_sheet_raises(spark, tmp_path):
    p = str(tmp_path / "vazio.xlsx")
    xlsx.write_xlsx(p, {"S1": (["a", "b"], [["1", "2"]])})
    with pytest.raises(ValueError, match="required categories"):
        sweep_workbook(spark, p)


def test_sweep_workbooks_distributed_matches_per_file(spark, tmp_path, monkeypatch):
    """Landing-zone sweep: mapInPandas discovery matches the per-file
    driver path row-for-row (ids aside, which renumber over the
    consolidated ordering), with workbook lineage added."""
    from etl_python_spark.sources import sweep
    from etl_python_spark.sources.sweep import sweep_workbooks_distributed

    # the id kernel pins its input with a checkpoint, so the result's
    # own plan starts at that checkpoint: read the discovery's plan off
    # the relation the kernel numbers
    plans = []
    real = sweep.prefix_sums

    def spy(df, *args, **kwargs):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return real(df, *args, **kwargs)

    monkeypatch.setattr(sweep, "prefix_sums", spy)

    land = tmp_path / "zone"
    land.mkdir()
    xlsx.write_xlsx(
        str(land / "w1.xlsx"),
        {
            "CD-A": (["Código", "Qtd"], [["A1.0", "5"], ["a2", "1"]]),
            "Notas": (["livre"], [["x"]]),
        },
    )
    xlsx.write_xlsx(
        str(land / "w2.xlsx"),
        {"CD-B": (["EAN", "Saldo", "Armazém"], [["B9", "2", "G1"]])},
    )
    dist = sweep_workbooks_distributed(spark, str(land))
    [plan] = plans
    assert "MapInPandas" in plan

    got = sorted(
        (r.sku, r.descricao, r.deposito, r.qtde, r.origem_aba,
         r.arquivo_origem.rsplit("/", 1)[-1])
        for r in dist.collect()
    )
    want = []
    for f in ("w1.xlsx", "w2.xlsx"):
        for r in sweep_workbook(spark, str(land / f)).collect():
            want.append(
                (r.sku, r.descricao, r.deposito, r.qtde, r.origem_aba, f)
            )
    assert got == sorted(want)
    # consolidated id is contiguous 1..n over the global ordering
    ids = sorted(r.id for r in dist.collect())
    assert ids == list(range(1, len(got) + 1))


def test_distributed_sweep_ids_are_global_ordering_without_single_task(spark, tmp_path):
    """ADVICE r7 (sweep.py:191): the landing-zone path assigns the
    1-based consolidated id via range-partition + per-partition offsets
    — same ordering contract as the driver path's global window, but
    no data-wide single-task funnel."""
    from etl_python_spark.sources.sweep import sweep_workbooks_distributed

    land = tmp_path / "zone"
    land.mkdir()
    for i in range(3):
        xlsx.write_xlsx(
            str(land / f"w{i}.xlsx"),
            {f"CD-{i}": (["Código", "Qtd"],
                         [[f"S{i}{j}", str(j)] for j in range(20)])},
        )
    out = sweep_workbooks_distributed(spark, str(land)).collect()
    ordered = sorted(out, key=lambda r: r.id)
    assert [r.id for r in ordered] == list(range(1, len(out) + 1))
    keys = [(r.deposito, r.sku, r.origem_aba, r.arquivo_origem)
            for r in ordered]
    assert keys == sorted(keys)  # id follows the consolidated ordering
    # the data itself is never globally windowed: the plan numbers the
    # rows with at least one data-wide window, and every window in it
    # partitions by the range partition id _pid
    plan = out and sweep_workbooks_distributed(
        spark, str(land)
    )._jdf.queryExecution().optimizedPlan().toString()
    import re

    specs = re.findall(r"windowspecdefinition\(([^,)]*)", plan)
    assert specs, plan[:2000]
    for spec in specs:
        assert spec.startswith("_pid#"), plan[:2000]
