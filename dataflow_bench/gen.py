"""Seeded inputs for the dataflow benchmark, and the facts the oracle
checks against.

Everything here is plain Python: the engine receives only what this
module writes (cube CSV text, canned WDS ``getCubeMetadata`` bodies and
lookup rows), and ``verify.py`` derives the expected star-schema
contents from the same ``Cell`` records, never from the engine.

The same ``seed`` always yields the same products, cells and lookups.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

MIN_REF_YEAR = 2016        # ProductPolicy default for non-mixed-geo products
MIXED_KEEP_YEAR = 2017     # mixed-geo products keep older rows only at these levels
MIXED_KEEP_LEVELS = ("A0000", "A0001", "A0002")
ANNUAL, MONTHLY = 12, 6    # WDS frequency codes
MIXED_GEO_PIDS = (35100177, 35100002, 35100026, 35100068)

PROVINCE_CODES = ["10", "11", "12", "13", "24", "35", "46", "47", "48", "59", "60", "61", "62"]
LEVELS = [
    ("A0000", "Country", "Pays"),
    ("A0002", "Province or territory", "Province ou territoire"),
    ("S0503", "Census metropolitan area", "Région métropolitaine de recensement"),
    ("A0005", "Census subdivision", "Subdivision de recensement"),
    ("SSSS", "Web display", "Affichage Web"),
]
NULL_REASONS = [(1, "..", "not available"), (2, "x", "suppressed"), (3, "F", "too unreliable")]
UOMS = [(229, "Number", "Nombre"), (81, "Dollars", "Dollars"), (239, "Percent", "Pourcentage")]
SUBJECTS = [
    ("14", "Labour", "Travail"),
    ("17", "Population and demography", "Population et démographie"),
    ("18", "Prices and price indexes", "Prix et indices des prix"),
    ("35", "Crime and justice", "Criminalité et justice"),
    ("3510", "Crime and justice/Crimes and offences", "Criminalité et justice/Crimes et infractions"),
]


@dataclass(frozen=True)
class Geo:
    dguid: str
    name_en: str
    name_fr: str
    level: str


@dataclass(frozen=True)
class Dim:
    name_en: str
    name_fr: str
    members: tuple  # (member_id, name_en, name_fr, uom_code or None)


@dataclass(frozen=True)
class Cell:
    """One CSV row. ``dguid`` is what the engine must derive from
    ``raw_dguid`` (scrub/repair); ``in_geo_ref`` is False for an orphan."""

    raw_dguid: str
    dguid: str
    level: str
    in_geo_ref: bool
    ref_date: str
    year: int
    coord: str          # non-geography coordinate, e.g. "3.1"
    geo_member: int
    vector: int
    value: float | None
    status: str | None


@dataclass
class Product:
    pid: int
    title_en: str
    title_fr: str
    freq: int
    first_year: int
    n_years: int
    subject: str
    dims: list[Dim]
    geos: list[Geo]
    fiscal_ref_dates: bool = False
    vintage_dguids: frozenset = frozenset()
    cells: list[Cell] = field(default_factory=list)

    @property
    def mixed_geo(self) -> bool:
        return self.pid in MIXED_GEO_PIDS

    @property
    def start_year(self) -> int:
        return self.first_year

    @property
    def end_year(self) -> int:
        return self.start_year + self.n_years - 1

    def combos(self) -> list[tuple[str, list[tuple]]]:
        """(coordinate, [member per dim]) in the engine's member order."""
        out = [("", [])]
        for d in self.dims:
            out = [
                (f"{c}.{m[0]}" if c else str(m[0]), ms + [m])
                for c, ms in out
                for m in sorted(d.members)
            ]
        return out

    def ref_dates(self) -> list[str]:
        """Indicator reference dates (yyyy-MM-dd) after the policy's
        min-year cut; monthly cubes fan out to every month start."""
        months = range(1, 13) if self.freq == MONTHLY else (1,)
        return [
            f"{y:04d}-{m:02d}-01"
            for y in range(self.start_year, self.end_year + 1)
            for m in months
            if self.mixed_geo or y >= MIN_REF_YEAR
        ]

    def metadata_response(self) -> list[dict]:
        end_month = 12 if self.freq == MONTHLY else 1
        geo_dim = {
            "dimensionPositionId": 1,
            "dimensionNameEn": "Geography",
            "dimensionNameFr": "Géographie",
            "hasUom": False,
            "member": [
                {"memberId": i + 1, "memberNameEn": g.name_en, "memberNameFr": g.name_fr}
                for i, g in enumerate(self.geos)
            ],
        }
        dims = [geo_dim] + [
            {
                "dimensionPositionId": i + 2,
                "dimensionNameEn": d.name_en,
                "dimensionNameFr": d.name_fr,
                "hasUom": any(m[3] is not None for m in d.members),
                "member": [
                    {
                        "memberId": m[0],
                        "memberNameEn": m[1],
                        "memberNameFr": m[2],
                        **({"memberUomCode": m[3]} if m[3] is not None else {}),
                    }
                    for m in d.members
                ],
            }
            for i, d in enumerate(self.dims)
        ]
        return [
            {
                "status": "SUCCESS",
                "object": {
                    "productId": self.pid,
                    "cubeTitleEn": self.title_en,
                    "cubeTitleFr": self.title_fr,
                    "cubeStartDate": f"{self.start_year}-01-01",
                    "cubeEndDate": f"{self.end_year}-{end_month:02d}-01",
                    "frequencyCode": self.freq,
                    "releaseTime": f"{self.end_year + 1}-02-15T08:30",
                    "subjectCode": [self.subject],
                    "surveyCode": ["3302"],
                    "dimension": dims,
                },
            }
        ]

    def csv_text(self) -> str:
        header = ["REF_DATE", "DGUID", "UOM", "UOM_ID", "VECTOR", "COORDINATE",
                  "STATUS", "SYMBOL", "VALUE", "Geography"] + [d.name_en for d in self.dims]
        names = {c: [m[1] for m in ms] for c, ms in self.combos()}
        lines = [",".join(header)]
        for c in self.cells:
            lines.append(",".join([
                c.ref_date, c.raw_dguid, "Number", "229", f"v{c.vector}",
                f"{c.geo_member}.{c.coord}", c.status or "", "",
                "" if c.value is None else repr(c.value),
                f"Geo {c.geo_member}", *names[c.coord],
            ]))
        return "\n".join(lines) + "\n"


class Universe:
    """Geographies and lookup rows shared by every product of a seed."""

    def __init__(self, seed: int, n_cma: int, n_csd: int):
        rng = random.Random(f"universe-{seed}")
        self.geos: list[Geo] = [Geo("2016A000011124", "Canada", "Canada", "A0000")]
        for cc in PROVINCE_CODES:
            self.geos.append(Geo(f"2016A0002{cc}", f"Province {cc}", f"Province {cc}", "A0002"))
        for code in sorted(rng.sample(range(1, 1000), n_cma)):
            nm = f"CMA {code:03d}"
            self.geos.append(Geo(f"2016S0503{code:03d}", nm, f"RMR {code:03d}", "S0503"))
        for code in sorted(rng.sample(range(1_000_000, 9_999_999), n_csd)):
            self.geos.append(Geo(f"2016A0005{code}", f"CSD {code}", f"SDR {code}", "A0005"))
        # per-year vintages of a few CMAs: the mixed-geo product's
        # 2011-tagged CMAs repair onto these (dguid_repair rule 4). A
        # code starting with "1" would also match the St. John's rule.
        self.vintage_cmas = [
            g for g in self.geos if g.level == "S0503" and g.dguid[9] != "1"
        ][:4]
        self.extra_geos: list[Geo] = []

    def add_vintages(self, years) -> None:
        have = {g.dguid for g in self.extra_geos}
        for y in years:
            for g in self.vintage_cmas:
                d = f"{y}S0503{g.dguid[-3:]}"
                if d not in have:
                    have.add(d)
                    self.extra_geos.append(Geo(d, f"{g.name_en} ({y})", f"{g.name_fr} ({y})", "S0503"))

    def geo_ref_rows(self) -> list[tuple]:
        return [
            (g.dguid, g.name_en, g.name_fr, g.level, f"POLYGON(({i} {i}))")
            for i, g in enumerate(self.geos + self.extra_geos)
        ]

    def lookup_rows(self) -> dict[str, tuple[list, str]]:
        """name -> (rows, DDL schema) for the pipeline's lookup frames."""
        return {
            "geo_ref": (
                self.geo_ref_rows(),
                "GeographyReferenceId string, DisplayNameShort_EN string, "
                "DisplayNameShort_FR string, GeographicLevelId string, Shape string",
            ),
            "geo_level": (
                LEVELS,
                "GeographicLevelId string, LevelName_EN string, LevelName_FR string",
            ),
            "null_reason": (
                NULL_REASONS, "NullReasonId int, Symbol string, Description_EN string"
            ),
            "uom": (UOMS, "memberUomCode int, memberUomEn string, memberUomFr string"),
            "subjects": (SUBJECTS, "subjectCode string, subjectEn string, subjectFr string"),
        }


def _dim(rng: random.Random, tag: str, n: int, uom: int | None) -> Dim:
    words = ["Total", "Male", "Female", "Urban", "Rural", "Owner", "Renter", "Public",
             "Private", "Full-time", "Part-time", "Youth", "Senior", "Adult", "Other"]
    picks = rng.sample(words, min(n, len(words)))
    picks += [f"Group {i}" for i in range(len(picks), n)]
    members = tuple(
        (i + 1, f"{tag} {p}", f"{tag} {p} (fr)", uom) for i, p in enumerate(picks)
    )
    return Dim(f"{tag} type", f"Type de {tag.lower()}", members)


def _per_level_sample(rng: random.Random, geos: list[Geo], n: int) -> list[Geo]:
    """``n`` of ``geos``, with each geographic level's share fixed
    independently of the seed: the level decides which rows the
    mixed-geo policy keeps, so every seed's product does the same work."""
    by_level: dict[str, list[Geo]] = {}
    for g in geos:
        by_level.setdefault(g.level, []).append(g)
    levels = sorted(by_level)
    quota = {lv: n * len(by_level[lv]) // len(geos) for lv in levels}
    for lv in sorted(levels, key=lambda lv: -len(by_level[lv]))[: n - sum(quota.values())]:
        quota[lv] += 1
    return [g for lv in levels for g in rng.sample(by_level[lv], quota[lv])]


def make_product(
    seed: int, uni: Universe, pid: int, freq: int, dim_sizes: list[int],
    n_geos: int, first_year: int, n_years: int, subject: str,
    fiscal_ref_dates: bool = False,
) -> Product:
    rng = random.Random(f"product-{seed}-{pid}")
    dims = [
        _dim(rng, tag, n, 229 if i == len(dim_sizes) - 1 else None)
        for i, (tag, n) in enumerate(zip(["Sector", "Age", "Status"], dim_sizes))
    ]
    fixed = [uni.geos[0]]
    if pid in MIXED_GEO_PIDS:
        fixed += uni.vintage_cmas
    rest = [g for g in uni.geos if g not in fixed]
    geos = sorted(fixed + _per_level_sample(rng, rest, n_geos - len(fixed)), key=lambda g: g.dguid)
    p = Product(
        pid=pid, title_en=f"Table {pid}", title_fr=f"Tableau {pid}", freq=freq,
        first_year=first_year, n_years=n_years, subject=subject, dims=dims,
        geos=geos, fiscal_ref_dates=fiscal_ref_dates,
    )
    if p.mixed_geo:
        p.vintage_dguids = frozenset(g.dguid for g in uni.vintage_cmas)
        uni.add_vintages(range(MIXED_KEEP_YEAR, first_year + n_years + 1))
    p.cells = make_cells(seed, p)
    return p


def make_cells(seed: int, p: Product) -> list[Cell]:
    """All CSV rows of ``p``. Values depend on (seed, pid); about 1% of
    rows are orphans, 3% carry a scrub-able dotted DGUID and 5% are null
    with a status symbol."""
    rng = random.Random(f"cells-{seed}-{p.pid}")
    combos = [c for c, _ in p.combos()]
    cells: list[Cell] = []
    vec = 0
    for year in range(p.start_year, p.end_year + 1):
        ref_date = f"{year - 1}/{year}" if p.fiscal_ref_dates else str(year)
        for gi, g in enumerate(p.geos):
            for coord in combos:
                vec += 1
                raw, dguid, in_ref = g.dguid, g.dguid, True
                r = rng.random()
                if g.dguid in p.vintage_dguids and year >= MIXED_KEEP_YEAR:
                    raw = "2011" + g.dguid[4:]               # repaired by rule 4
                    dguid = f"{year}{g.dguid[4:]}"
                elif r < 0.01:
                    raw = dguid = f"2016A00059{gi:06d}"      # not in GeographyReference
                    in_ref = False
                elif r < 0.04:
                    raw = g.dguid[:9] + "." + g.dguid[9:]    # scrubbed back to dguid
                status = None
                value: float | None = rng.randrange(0, 2_000_000) / 10
                if rng.random() < 0.05:
                    value = None
                    status = rng.choice(NULL_REASONS)[1]
                cells.append(Cell(
                    raw_dguid=raw, dguid=dguid, level=dguid[4:9], in_geo_ref=in_ref,
                    ref_date=ref_date, year=year, coord=coord, geo_member=gi + 1,
                    vector=vec, value=value, status=status,
                ))
    return cells

