"""Synonym-driven workbook sweep: header-row DISCOVERY + canonical
schema consolidation.

Re-expresses `Algoritmo de Varredura - Planilhas.py` (reference; added
to the inventory in round 7): messy inventory workbooks where each
sheet buries its header somewhere in the first ~50 rows under
arbitrary column names.  Per sheet: scan the leading rows for the
first row whose cells, normalized (trim + upper + accent strip),
match the synonym dictionary for the REQUIRED categories (the
reference demands SKU and QTDE, :54-57); map matched column positions
to canonical names; read the data below that row; default the
missing optional categories (DEPOSITO ← sheet name, DESCRICAO ←
'NÃO INFORMADO', :76-78); union across sheets with sheet lineage;
clean SKU (Excel float '.0' tail, upper, drop empties) and QTDE
(numeric coercion, 0 fill, :105-109); sort and number (:113-114).

The discovery is driver-side per workbook (bounded: ≤ max_scan_rows ×
n_cols cells via the stdlib codec — no pandas, no full-sheet read);
the consolidated frame is a normal distributed DataFrame, and a
landing zone of many workbooks can run this per file inside
``read_excel_distributed``-style mapInPandas if it ever needs to.
"""

from __future__ import annotations

import unicodedata

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.prefix import prefix_sums

# the reference's synonym dictionary, abridged to the high-signal
# entries per category (ref :23-28; extend per deployment)
DEFAULT_SYNONYMS: dict[str, list[str]] = {
    "DESCRICAO": [
        "descricao", "descrição", "detalhe", "detalhamento",
        "especificacao", "especificação", "resumo", "texto",
        "observacao", "observação", "nota", "ficha tecnica",
        "descricao do produto",
    ],
    "SKU": [
        "sku", "codigo", "código", "codigo produto", "codigo do produto",
        "id produto", "identificador", "referencia", "referência",
        "cod item", "codigo item", "codigo interno", "codigo de barras",
        "ean", "gtin", "id", "chave", "registro",
    ],
    "QTDE": [
        "qtde", "quantidade", "qtd", "volume", "total", "contagem",
        "unidades", "qtd total", "itens", "saldo", "estoque",
        "disponivel", "disponível", "lote",
    ],
    "DEPOSITO": [
        "deposito", "depósito", "armazem", "armazém", "local",
        "localidade", "unidade", "filial", "cd", "warehouse",
        "almoxarifado", "galpao", "galpão", "setor", "endereco",
        "endereço",
    ],
}


def normalize_header_cell(value) -> str:
    """Trim + upper + accent strip, never raising — the reference's
    ``limpar_valor_seguro`` (:5-20)."""
    if value is None:
        return ""
    s = str(value).strip().upper()
    nfkd = unicodedata.normalize("NFKD", s)
    return "".join(c for c in nfkd if not unicodedata.combining(c))


def find_header_mapping(
    rows: list[list],
    synonyms: dict[str, list[str]] | None = None,
    required: tuple[str, ...] = ("SKU", "QTDE"),
    max_scan_rows: int = 50,
) -> tuple[int, dict[int, str]] | None:
    """First row (within ``max_scan_rows``) whose cells match synonym
    entries for every REQUIRED category → (row index, {column index:
    canonical name}).  First match per category wins within a row
    (ref :45-51); None when no row qualifies."""
    syn = synonyms or DEFAULT_SYNONYMS
    norm = {
        cat: {normalize_header_cell(s) for s in entries}
        for cat, entries in syn.items()
    }
    for idx, row in enumerate(rows[:max_scan_rows]):
        mapping: dict[int, str] = {}
        found: set[str] = set()
        for col_idx, cell in enumerate(row):
            v = normalize_header_cell(cell)
            if not v:
                continue
            for cat, entries in norm.items():
                if cat not in found and v in entries:
                    mapping[col_idx] = cat
                    found.add(cat)
                    break
        if all(r in found for r in required):
            return idx, mapping
    return None


def sweep_workbook(
    spark: SparkSession,
    path: str,
    synonyms: dict[str, list[str]] | None = None,
    required: tuple[str, ...] = ("SKU", "QTDE"),
    lineage_col: str = "origem_aba",
) -> DataFrame:
    """Consolidate every qualifying sheet of a messy workbook into ONE
    canonical (id, sku, descricao, deposito, qtde, origem_aba) frame —
    the reference's 'consolidação blindada' end to end.  Sheets where
    the required categories are not found are skipped (the reference
    logs and continues, :95-99)."""
    from . import xlsx

    frames = []
    for sheet in xlsx.sheet_names(path):
        rows = xlsx.read_sheet_raw(path, sheet)
        hit = find_header_mapping(rows, synonyms, required)
        if hit is None:
            continue
        header_idx, mapping = hit
        data = rows[header_idx + 1 :]
        records = []
        for r in data:
            rec = {
                cat: (r[ci] if ci < len(r) else None)
                for ci, cat in mapping.items()
            }
            records.append(
                (
                    str(rec.get("SKU")) if rec.get("SKU") is not None else None,
                    str(rec["DESCRICAO"])
                    if rec.get("DESCRICAO") is not None
                    else None,
                    str(rec["DEPOSITO"])
                    if rec.get("DEPOSITO") is not None
                    else None,
                    str(rec.get("QTDE")) if rec.get("QTDE") is not None else None,
                    sheet,
                )
            )
        if records:
            frames.append(
                spark.createDataFrame(
                    records,
                    "sku string, descricao string, deposito string, "
                    f"qtde string, {lineage_col} string",
                )
            )
    if not frames:
        raise ValueError(
            f"no sheet in {path} contains the required categories {required}"
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return _canonicalize(out, lineage_col)


def _canonicalize(
    out: DataFrame,
    lineage_col: str,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """The reference's consolidation cleanup, shared by the driver and
    distributed paths: SKU drops the Excel-float '.0' tail and
    uppercases; QTDE coerces to numeric with 0 fill; empty SKUs drop;
    missing optional categories take their defaults; 1-based id over
    the (deposito, sku) ordering — the position from ``prefix_sums``,
    so a landing zone's ids never funnel through one task."""
    sku = F.upper(F.trim(F.regexp_replace(F.col("sku"), r"\.0$", "")))
    out = (
        out.select(
            sku.alias("sku"),
            F.coalesce(F.col("descricao"), F.lit("NÃO INFORMADO")).alias(
                "descricao"
            ),
            F.coalesce(F.col("deposito"), F.col(lineage_col)).alias("deposito"),
            F.coalesce(
                # regexp_extract yields '' on no-match, which an ANSI
                # cast rejects — nullif first, then the 0 fill
                F.nullif(
                    F.regexp_extract(F.col("qtde"), r"^-?\d+(\.\d+)?", 0),
                    F.lit(""),
                ).cast("double"),
                F.lit(0.0),
            ).alias("qtde"),
            F.col(lineage_col),
            *extra_cols,
        )
        .filter(F.col("sku").isNotNull() & (F.col("sku") != ""))
    )
    final_cols = ["sku", "descricao", "deposito", "qtde", lineage_col,
                  *extra_cols]
    sort_cols = ["deposito", "sku", lineage_col, *extra_cols]
    ids, _ = prefix_sums(out, sort_cols, {"_pos": F.lit(1)})
    return ids.select(F.col("_pos").cast("int").alias("id"), *final_cols)


def sweep_workbooks_distributed(
    spark: SparkSession,
    path: str,
    synonyms: dict[str, list[str]] | None = None,
    required: tuple[str, ...] = ("SKU", "QTDE"),
    lineage_col: str = "origem_aba",
    file_col: str = "arquivo_origem",
    glob: str = "*.xlsx",
) -> DataFrame:
    """The sweep over a LANDING ZONE of messy workbooks: a binaryFile
    scan + ``mapInPandas`` runs the per-workbook header discovery and
    extraction on executors (the stdlib codec decodes the in-memory
    bytes; same scale story as :func:`readers.read_excel_distributed`),
    then the shared canonical cleanup + consolidation runs as ordinary
    distributed expressions.  Each row carries sheet AND workbook
    lineage.  Workbooks/sheets without the required categories are
    skipped, as in the per-file path."""
    import pandas as pd

    syn = synonyms or DEFAULT_SYNONYMS

    def parse(batches):
        import io

        from . import xlsx

        for pdf in batches:
            for _, brow in pdf.iterrows():
                buf = brow["content"]
                names = xlsx.sheet_names(io.BytesIO(buf))
                for sheet in names:
                    rows = xlsx.read_sheet_raw(io.BytesIO(buf), sheet)
                    hit = find_header_mapping(rows, syn, required)
                    if hit is None:
                        continue
                    header_idx, mapping = hit
                    recs = []
                    for r in rows[header_idx + 1 :]:
                        rec = {
                            cat: (r[ci] if ci < len(r) else None)
                            for ci, cat in mapping.items()
                        }
                        recs.append(
                            {
                                "sku": str(rec["SKU"])
                                if rec.get("SKU") is not None
                                else None,
                                "descricao": str(rec["DESCRICAO"])
                                if rec.get("DESCRICAO") is not None
                                else None,
                                "deposito": str(rec["DEPOSITO"])
                                if rec.get("DEPOSITO") is not None
                                else None,
                                "qtde": str(rec["QTDE"])
                                if rec.get("QTDE") is not None
                                else None,
                                lineage_col: sheet,
                                file_col: brow["path"],
                            }
                        )
                    if recs:
                        yield pd.DataFrame(recs)

    binaries = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
        .select("path", "content")
    )
    raw = binaries.mapInPandas(
        parse,
        "sku string, descricao string, deposito string, qtde string, "
        f"{lineage_col} string, {file_col} string",
    )
    return _canonicalize(raw, lineage_col, extra_cols=(file_col,))
