"""The oracle: expected star-schema contents derived from the
generator's cells, and comparisons against what the engine returned.

Nothing here reads the engine's output to build an expectation. The
rules it encodes are the published semantics of the write and read
paths: the policy row filter, the inner join to GeographyReference,
the Jan-1 IndicatorCode keying of facts, contiguous IndicatorIds in
IndicatorCode order, and the PrimaryQuery's locale formatting.
"""

from __future__ import annotations

from gen import LEVELS, MIN_REF_YEAR, MIXED_KEEP_LEVELS, MIXED_KEEP_YEAR, Cell, Product, Universe


def kept(p: Product, c: Cell) -> bool:
    """The ProductPolicy row filter (before the GeographyReference join)."""
    if p.mixed_geo:
        return c.year >= MIXED_KEEP_YEAR or c.level in MIXED_KEEP_LEVELS
    return c.year >= MIN_REF_YEAR


def indicator_code(p: Product, coord: str, ref_date: str) -> str:
    return f"{p.pid}.{coord}.{ref_date}"


def indicator_ids(p: Product) -> dict[str, int]:
    """IndicatorCode -> IndicatorId: contiguous from 1 in IndicatorCode
    order (ASCII codes, so byte order is str order). The product is the
    only one in its store, so its ids start after an empty maximum."""
    codes = sorted(indicator_code(p, c, d) for c, _ in p.combos() for d in p.ref_dates())
    return {code: i + 1 for i, code in enumerate(codes)}


def fact_cells(p: Product) -> list[Cell]:
    """Cells that become IndicatorValues rows."""
    return [c for c in p.cells if c.in_geo_ref and kept(p, c)]


def expected_counts(p: Product) -> dict[str, int]:
    """Rows of product ``p``'s partition in each table after it was
    inserted alone into an empty store."""
    codes = indicator_ids(p)
    glb = set()
    for c in p.cells:
        code = indicator_code(p, c.coord, f"{c.year:04d}-01-01")
        if kept(p, c) and code in codes:
            glb.add((c.level, code))
    n_members = sum(len(d.members) for d in p.dims)
    facts = len(fact_cells(p))
    return {
        "IndicatorTheme": 1,
        "Dimensions": 1 + len(p.dims),
        "DimensionValues": n_members + len(date_years(p)),
        "Indicators": len(codes),
        "IndicatorValues": facts,
        "GeographyReferenceForIndicator": facts,
        "GeographicLevelForIndicator": len(glb) + len({code for _, code in glb}),
        "IndicatorMetaData": len(codes),
        "RelatedCharts": len(codes),
    }


def date_years(p: Product) -> set[int]:
    """Reference years the product adds to the Date dimension."""
    return {c.year for c in p.cells if kept(p, c)}


def newest_indicators(p: Product) -> list[int]:
    """Served IndicatorIds of the newest reference year."""
    codes = indicator_ids(p)
    newest = f"{p.end_year:04d}-01-01"
    have = {
        codes[indicator_code(p, c.coord, newest)]
        for c in fact_cells(p) if c.year == p.end_year
    }
    return sorted(have)


def format_value(v: float, locale: str) -> str:
    """``format_number(v, 1)``; fr-CA swaps the separators."""
    s = f"{v:,.1f}"
    if locale == "FR":
        s = s.translate(str.maketrans({",": " ", ".": ","}))
    return s


class PrimaryQueryOracle:
    """Expected PrimaryQuery rows per (indicator, locale, path) for one
    product."""

    def __init__(self, uni: Universe, p: Product):
        self.geo = {g.dguid: g for g in uni.geos + uni.extra_geos}
        self.level = {lv: (en, fr) for lv, en, fr in LEVELS}
        codes = indicator_ids(p)
        names = {c: ms for c, ms in p.combos()}
        self.by_id: dict[int, list[Cell]] = {}
        self.name: dict[int, tuple[str, str]] = {}
        for c in fact_cells(p):
            iid = codes[indicator_code(p, c.coord, f"{c.year:04d}-01-01")]
            self.by_id.setdefault(iid, []).append(c)
            ms = names[c.coord]
            # IndicatorName is the second-to-last member ("" for one dimension)
            self.name[iid] = (
                ms[-2][1] if len(ms) > 1 else "",
                ms[-2][2] if len(ms) > 1 else "",
            )

    def rows(self, iid: int, locale: str, path: str) -> list[tuple]:
        """Sorted (GeographyReferenceId, GeographyName, GeographicLevelName,
        IndicatorName, Value, FormattedValue). The stored-SQL path
        formats numbers en-US in both locales (``sql_views.py``); the
        DataFrame path localizes them."""
        fr = locale == "FR"
        fmt_locale = locale if path == "df" else "EN"
        out = []
        for c in self.by_id.get(iid, []):
            g = self.geo[c.dguid]
            formatted = c.status if c.value is None else format_value(c.value, fmt_locale)
            out.append((
                c.dguid,
                g.name_fr if fr else g.name_en,
                self.level[c.level][1 if fr else 0],
                self.name[iid][1 if fr else 0],
                c.value,
                formatted,
            ))
        return sorted(out, key=_row_key)


def _row_key(r: tuple):
    return tuple("" if v is None else str(v) for v in r)


def compare_rows(got: list[tuple], want: list[tuple]) -> str | None:
    """None when equal as multisets, else a one-line description of
    the first difference."""
    got = sorted(got, key=_row_key)
    if len(got) != len(want):
        return f"row count {len(got)} != expected {len(want)}"
    for g, w in zip(got, want):
        if g != w:
            return f"row {g!r} != expected {w!r}"
    return None


def compare_counts(got: dict[str, int], want: dict[str, int]) -> str | None:
    bad = [f"{t}: {got.get(t)} != {n}" for t, n in want.items() if got.get(t) != n]
    return "; ".join(bad) or None
