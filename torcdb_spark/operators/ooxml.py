"""Office Open XML spreadsheet (XLSX) structural census — pure JVM
expressions.

An XLSX workbook is a ZIP package (SpreadsheetML, ECMA-376):
``xl/workbook.xml`` declares the sheet list, ``xl/sharedStrings.xml``
holds the deduplicated string table every string cell indexes into,
and ``xl/worksheets/sheet1.xml`` holds typed cells —
``<c r="A1" t="s"><v>3</v></c>`` is a shared-string reference,
``<c r="B1"><v>42</v></c>`` a number, ``<c r="C2"/>`` a blank.  This
module walks those three parts with ``regexp_extract_all`` +
higher-order array functions — whole-stage codegen end to end, no
spreadsheet library — the enterprise-corpus ingestion sibling of the
notebook (p5) and DOCX (p6) passes.  At 100 TB the workbooks arrive as
binaryFile rows and fan out through sources.warc.zip_members exactly
like EPUB/DOCX; the census here is per-row expression work after that
fan-out, so it scales with the scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _decode_entities(col: Column) -> Column:
    """The five predefined XML entities, &amp; last (double-escape
    rule) — same chain as text.html_to_text / text.docx_text."""
    out = col
    for ent, ch in (
        ("&lt;", "<"), ("&gt;", ">"), ("&quot;", "\""),
        ("&apos;", "'"), ("&amp;", "&"),
    ):
        out = F.replace(out, F.lit(ent), F.lit(ch))
    return out


def pptx_text(slide_xml: Column) -> Column:
    """DrawingML slide part (``ppt/slides/slideN.xml``) → plain text —
    the PresentationML member of the DOCX/XLSX/PPTX trio, same JVM
    regex contract as text.docx_text: ``<a:br/>`` line breaks become
    whitespace, each paragraph (``</a:p>``) is a whitespace boundary,
    the ``<a:t>`` runs inside a paragraph concatenate in order with no
    separator, every other element (``<a:rPr>``, ``<p:sp>`` shape
    scaffolding, field codes) is structurally ignored, entities
    decode, whitespace collapses."""
    x = F.regexp_replace(slide_xml, r"<a:br\s*/>", "<a:t> </a:t>")
    paras = F.split(x, "</a:p>")
    para_text = F.transform(
        paras,
        lambda p: F.array_join(
            F.regexp_extract_all(
                p, F.lit(r"(?s)<a:t(?:\s[^>]*)?>([^<]*)</a:t>"), F.lit(1)
            ),
            "",
        ),
    )
    return F.trim(
        F.regexp_replace(
            _decode_entities(F.array_join(para_text, " ")), r"\s+", " "
        )
    )


def xlsx_sheet_census(members: DataFrame) -> DataFrame:
    """ZIP-member rows (from sources.warc.zip_members) -> one census
    row per workbook: ``path, n_sheets, n_cells, n_string_cells,
    n_number_cells, a1_text, b2_value`` -- sheet count from the
    workbook part, cell walk over sheet1 (string cells resolved
    through the sharedStrings indirection, numbers parsed from
    ``<v>``, blank cells counted but typed as neither).  SINGLE-PASS
    plan: every member row computes its part's fields conditionally
    (non-matching parts yield NULLs) and one groupBy(path) folds the
    three parts together -- one scan of the exploded members, one
    shuffle, and no self-join recomputation of the upstream fan-out
    (the original three-way path join re-ran the ZIP explode once per
    branch)."""
    xml = F.decode(F.col("payload"), "utf-8")
    member = F.col("member")

    n_sheets = F.when(
        member == "xl/workbook.xml",
        F.size(
            F.regexp_extract_all(xml, F.lit(r"<sheet\s[^>]*/>"), F.lit(0))
        ).cast("long"),
    )
    strings = F.when(
        member == "xl/sharedStrings.xml",
        F.transform(
            F.regexp_extract_all(
                xml, F.lit(r"<si><t[^>]*>([^<]*)</t></si>"), F.lit(1)
            ),
            _decode_entities,
        ),
    )
    cells = F.regexp_extract_all(
        xml, F.lit(r"(?s)<c\s[^>]*/>|<c\s[^>]*>.*?</c>"), F.lit(0)
    )
    is_str = lambda c: c.rlike('\\st="s"')  # noqa: E731
    has_v = lambda c: c.contains("<v>")  # noqa: E731
    cell_v = lambda c: F.regexp_extract(c, "<v>([^<]*)</v>", 1)  # noqa: E731

    def ref_cell(ref: str) -> Column:
        return F.element_at(
            F.filter(cells, lambda c: c.rlike(f'r="{ref}"')), 1
        )

    on_sheet = member == "xl/worksheets/sheet1.xml"
    per_member = members.select(
        "path",
        n_sheets.alias("_n_sheets"),
        strings.alias("_strings"),
        F.when(on_sheet, F.size(cells).cast("long")).alias("_n_cells"),
        F.when(on_sheet, F.size(F.filter(cells, is_str)).cast("long"))
        .alias("_n_str"),
        F.when(
            on_sheet,
            F.size(
                F.filter(cells, lambda c: has_v(c) & ~is_str(c))
            ).cast("long"),
        ).alias("_n_num"),
        F.when(on_sheet, cell_v(ref_cell("A1")).cast("int"))
        .alias("_a1_idx"),
        F.when(on_sheet, cell_v(ref_cell("B2")).cast("long"))
        .alias("_b2"),
    )
    return (
        per_member.groupBy("path")
        .agg(
            F.first("_n_sheets", ignorenulls=True).alias("n_sheets"),
            F.first("_strings", ignorenulls=True).alias("_strings"),
            F.first("_n_cells", ignorenulls=True).alias("n_cells"),
            F.first("_n_str", ignorenulls=True).alias("n_string_cells"),
            F.first("_n_num", ignorenulls=True).alias("n_number_cells"),
            F.first("_a1_idx", ignorenulls=True).alias("_a1_idx"),
            F.first("_b2", ignorenulls=True).alias("b2_value"),
        )
        .select(
            "path",
            "n_sheets",
            "n_cells",
            "n_string_cells",
            "n_number_cells",
            F.element_at(F.col("_strings"), F.col("_a1_idx") + 1)
            .alias("a1_text"),
            "b2_value",
        )
    )
