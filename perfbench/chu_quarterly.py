"""chu_quarterly: CHU hospital workbooks ingested through pipeline C.

A job is one quarterly ingest; four quarters make a cycle (one year), and
each cycle starts from an empty state directory, so quarter 1 resolves
every facility name by fuzzy scoring and quarters 2-4 mostly hit the
registry built so far. Every cycle ingests the same four workbooks, so it
has the same expected outputs. Each ingest reads a seeded ``.xlsx`` workbook
(two-row nested header, French indicator labels with spelling variants,
a district column, facility names with typos and accents, unknown
facilities) written at set-up with ``io.excel.write_xlsx_workbook``, then
runs ``read_xlsx_stdlib`` → ``excel_sheet_to_spark`` →
``standardize_chu_columns`` / ``clean_chu_cells`` → ``run_pipeline_c``
(registry and PEC-history upserts) → ``export_csv_per_period``.

The expected registry, per-period report rows and semester sums are
computed at set-up by a plain-Python replay of the documented resolution
chain (normalise, then ``token_set_ratio`` against the registry at 95,
level-4 facilities at 90, level-3 districts at 90 with a
``uuid5_py``-synthesised id, else drop).
"""

from __future__ import annotations

import csv
import os
import random
import re
import unicodedata

from perfbench.harness import sha, sorted_file_lines
from perfbench.trace import catalyst_phases_ms

N_SERVICES = 2
BASE_NAMES = 60
NEW_NAMES_PER_QUARTER = 6
ROOT_UID = "ZD44Asc0bAk"
TOWNS = [
    "Cocody", "Abobo", "Yopougon", "Treichville", "Bouaké", "Daloa",
    "Korhogo", "San-Pédro", "Yamoussoukro", "Man", "Gagnoa", "Divo",
    "Abengourou", "Bondoukou", "Odienné", "Séguéla",
]
KINDS = [
    "Hôpital Général", "Centre de Santé Urbain", "CHR", "Clinique Médicale",
    "Dispensaire Urbain", "Maternité", "CSU", "Centre Antituberculeux",
]
UNKNOWN = ["Espérance", "Providence", "Béthel", "Saint Joseph", "Les Palmiers", "Élite"]
LOST_DISTRICTS = ["Kpakpakro", "Nzikro", "Bléssékro", "Gbatongouin"]
AGES = [
    "age_0_4_ans", "age_05_09_ans", "age_10_14_ans", "age_15_19_ans",
    "age_20_24_ans", "age_25_49_ans", "age_50_ans_et_plus",
]
SHEET = "PEC"
# sheet prefix -> report indicator; the semester leg reports under its own
SHEET_MAP = {
    "indicateur_8": 7, "indicateur_9": 8, "indicateur_10": 5,
    "indicateur_11_": 6, "indicateur_17": 12, "indicateur_18": 13,
}
HISTORY_MAP = {"indicateur_11_": 11}
QUARTER_END = ("03", "06", "09", "12")
YEAR = 2024


def norm(s: str) -> str:
    """Python twin of ``operators.fuzzy.normalize_text_col``."""
    s = "".join(ch for ch in unicodedata.normalize("NFD", s) if not unicodedata.combining(ch))
    s = re.sub(r"[^\w\s-]", "", s, flags=re.ASCII).strip(" ")
    return s.replace("public", "").replace("-", " ").lower()


def best(q: str, cands: list[tuple[str, str]], threshold: float) -> str | None:
    """Exact normalised hit, else the first candidate with the highest
    ``token_set_ratio`` at or above ``threshold``."""
    from hiv_data_integration_spark.operators.fuzzy import token_set_ratio

    exact = {name: payload for name, payload in cands}
    if q in exact:
        return exact[q]
    best_p, best_s = None, threshold
    for name, payload in cands:
        s = token_set_ratio(q, name)
        if s > best_s or (s == best_s and best_p is None):
            best_p, best_s = payload, s
    return best_p


def _variant(name: str, rng: random.Random) -> str:
    r = rng.random()
    if r < 0.5:
        return name
    if r < 0.7:
        return unicodedata.normalize("NFD", name).encode("ascii", "ignore").decode().upper()
    if r < 0.85:
        return name.replace(" de ", " - ") + rng.choice([".", " !", ""])
    words = name.split()
    i = max(range(len(words)), key=lambda k: len(words[k]))
    w = words[i]
    if len(w) >= 5:
        j = rng.randrange(1, len(w) - 2)
        words[i] = w[:j] + w[j + 1] + w[j] + w[j + 2:]
    return " ".join(words)


def quarter_of(job: int) -> tuple[str, int]:
    """(cycle label, quarter index); job 0 is the first cycle's quarter 1."""
    cycle, q = divmod(job, 4)
    return f"cycle{cycle}", q


class Workload:
    name = "chu_quarterly"

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tracer = ctx.tracer
        self.names_seen = 0
        self.names_matched = 0
        self.state_bytes = 0.0
        self.new_row_bytes = 0.0
        self.cells = 0
        self.files_written = 0
        self.bytes_written = 0
        self.catalyst: list[dict] = []

    # -- set-up ------------------------------------------------------------
    def setup(self) -> None:
        from hiv_data_integration_spark.functions import standardize_column_name
        from hiv_data_integration_spark.io.excel import write_xlsx_workbook
        from hiv_data_integration_spark.operators.fuzzy import strip_accents
        from hiv_data_integration_spark.ref_constants import SHEET_RENAMES

        rng = random.Random(self.ctx.seed)
        ou = []
        self.l3, self.l4 = [], []
        for d, town in enumerate(TOWNS):
            dpath = f"/{ROOT_UID}/R{d % 4}/D{d:02d}"
            ou.append((f"D{d:02d}", f"DS {town}", 3, dpath, None))
            self.l3.append((norm(f"DS {town}"), dpath))
            for k, kind in enumerate(KINDS):
                fname = f"{kind} de {town}"
                ou.append((f"F{d:02d}{k}", fname, 4, f"{dpath}/F{d:02d}{k}", None))
                self.l4.append((norm(fname), f"{dpath}/F{d:02d}{k}"))
        self.org_units = self.spark.createDataFrame(
            ou, "id string, name string, level long, path string, geometry string"
        )

        # (facility, district) names: known facilities with variants, unknown
        # facilities in known districts, unknown facilities in unknown ones
        def draw(n_known: int, n_unknown: int, n_lost: int, tag: str) -> list[tuple[str, str]]:
            out = []
            for _ in range(n_known):
                town, kind = rng.choice(TOWNS), rng.choice(KINDS)
                district = rng.choice([f"DS {town}", town, f"DS {town.upper()}"])
                out.append((_variant(f"{kind} de {town}", rng), district))
            for i in range(n_unknown):
                town = rng.choice(TOWNS)
                out.append((f"Clinique {rng.choice(UNKNOWN)} {tag}{i} de {town}", f"DS {town}"))
            for i in range(n_lost):
                place = rng.choice(LOST_DISTRICTS)
                out.append((f"Centre Médical {place} {tag}{i}", f"DS {place}"))
            return list(dict.fromkeys(out))

        base = draw(BASE_NAMES, 8, 4, "B")
        self.names_by_quarter = []
        extra: list[tuple[str, str]] = []
        for q in range(4):
            if q:
                extra = extra + draw(NEW_NAMES_PER_QUARTER - 2, 1, 1, f"Q{q}")
            self.names_by_quarter.append(list(dict.fromkeys(base + extra)))

        labels = list(SHEET_RENAMES[SHEET].items())
        # every other label is spelled without accents and in lower case,
        # so header resolution runs its fuzzy path as well as exact hits
        label_cells = [
            lab if i % 2 == 0 else strip_accents(lab).lower() for i, (lab, _) in enumerate(labels)
        ]
        self.single_cols = [target for _, target in labels]
        self.group_cols = [f"indicateur_11_{a}_{s}" for a in AGES for s in ("F", "M")]
        self.report_value_columns = sorted(
            {"nosex_noage"} | {standardize_column_name(c) for c in self.group_cols}
        )
        header = ["Région", "Districts", "Etablissements", "Service", "Mois"] + label_cells
        header += ["indicateur_11"] + [None] * (len(self.group_cols) - 1)
        n_values = len(label_cells) + len(self.group_cols)
        pad = [None] * (5 + len(label_cells))
        ages = pad + [a for a in AGES for _ in ("F", "M")]
        sexes = pad + [s for _ in AGES for s in ("F", "M")]

        # name resolution depends only on the names and the registry, so it
        # is replayed once per quarter and shared by every cycle
        self.resolved: list[dict[tuple[str, str], str]] = []
        self.registry_after: list[list[tuple[str, str, str]]] = []
        self.new_registry: list[int] = []
        registry: dict[tuple[str, str], str] = {}
        for q, names in enumerate(self.names_by_quarter):
            resolved = self._resolve(names, registry)
            self.new_registry.append(sum(1 for k in resolved if k not in registry))
            registry = {**registry, **resolved}
            self.resolved.append(resolved)
            self.registry_after.append(sorted((f, d, i) for (f, d), i in registry.items()))

        # one workbook per quarter of YEAR
        self.books: list[str] = []
        self.book_digests: list[str] = []
        self.expected: list[dict] = []
        os.makedirs(os.path.join(self.ctx.work, "books"), exist_ok=True)
        history: dict[tuple[str, str], int] = {}
        for q in range(4):
            months = [f"{YEAR}{3 * q + m:02d}" for m in (1, 2, 3)]
            grid = [header, ages, sexes]
            data = []
            for fac, district in self.names_by_quarter[q]:
                for month in months:
                    for svc in range(N_SERVICES):
                        vals = [rng.randint(0, 50) for _ in range(n_values)]
                        grid.append(["Région", district, fac, f"Service {svc}", month] + vals)
                        data.append((fac, district, month, vals))
            path = os.path.join(self.ctx.work, "books", f"Q{q + 1}.xlsx")
            write_xlsx_workbook(path, {SHEET: grid})
            self.books.append(path)
            # the cells, not the file bytes: zip entries carry write times
            self.book_digests.append(sha(repr(row) for row in grid))
            self.expected.append(self._aggregate(q, data, months, history))
        self.rows_per_quarter = [len(n) * 3 * N_SERVICES for n in self.names_by_quarter]
        header_cells = sum(1 for row in (header, ages, sexes) for c in row if c is not None)
        self.cells_per_quarter = [header_cells + r * (5 + n_values) for r in self.rows_per_quarter]

    def _resolve(self, names, registry) -> dict[tuple[str, str], str]:
        """The documented resolution chain: registry (district-blocked,
        95), level-4 facilities (90), level-3 district with a synthesised
        ``<district path>/<uuid5(name)>`` id (90), else dropped."""
        from hiv_data_integration_spark.operators.fuzzy import uuid5_py

        resolved: dict[tuple[str, str], str] = {}
        for fac, district in names:
            ou = None
            if registry:
                block = [(norm(f), i) for (f, d), i in registry.items() if norm(d) == norm(district)]
                ou = best(norm(fac), block, 95.0)
            if ou is None:
                ou = best(norm(fac), self.l4, 90.0)
            if ou is None:
                cleaned = district.upper()
                for noise in ("PUBLIC", "CHU", " DE "):
                    cleaned = cleaned.replace(noise, "")
                hit = best(norm(cleaned.strip(" ")), self.l3, 90.0)
                if hit is not None:
                    ou = f"{hit}/{uuid5_py(fac)}"
            if ou is not None:
                resolved[(fac, district)] = ou
        return resolved

    def _aggregate(self, q, data, months, history) -> dict:
        """Expected report rows per period and the semester sum of one
        quarter; ``history`` is the cycle's PEC history, updated here."""
        from hiv_data_integration_spark.operators.aggregate import semester_bounds

        resolved = self.resolved[q]
        n_single = len(self.single_cols)
        per_period: dict[str, set] = {m: set() for m in months}
        new_history = 0
        for fac, district, month, vals in data:
            ou = resolved.get((fac, district))
            if ou is None:
                continue
            per_period[month].add(ou)
            new_history += (ou, month) not in history
            history[(ou, month)] = history.get((ou, month), 0) + sum(vals[n_single:])
        start, end = semester_bounds(QUARTER_END[q], YEAR)
        window = {k: v for k, v in history.items() if start <= k[1] <= end}
        rows = {m: len(ids) * len(SHEET_MAP) for m, ids in per_period.items()}
        rows[end] = rows.get(end, 0) + len({ou for ou, _ in window})
        return {
            "registry": self.registry_after[q],
            "rows": rows,
            "semester_period": end,
            "semester_sum": sum(window.values()),
            "names": len(self.names_by_quarter[q]),
            "new_registry": self.new_registry[q],
            "new_history": new_history,
            "history_rows": len(history),
        }

    def install_trace(self) -> None:
        from hiv_data_integration_spark.io import excel, headers, sinks
        from hiv_data_integration_spark.pipeline import pnls

        t = self.tracer
        t.wrap(excel, "read_xlsx_stdlib", "io.excel.read")
        t.wrap(excel, "excel_sheet_to_spark", "io.excel.read")
        t.wrap(headers, "standardize_chu_columns", "io.headers.resolve")
        t.wrap(headers, "clean_chu_cells", "io.headers.resolve")
        t.wrap(pnls, "resolve_entities", "operators.fuzzy.resolve")
        t.wrap(pnls, "upsert_parquet_state", "operators.fuzzy.upsert", kind="sink")
        t.wrap(pnls, "stack_pathologies", "pipeline.report.build")
        t.wrap(pnls, "finalize_report", "pipeline.report.build")
        t.wrap(sinks, "export_csv_per_period", "io.sinks.csv", kind="sink")

    # -- one job -----------------------------------------------------------
    def run_job(self, job: int) -> str:
        from hiv_data_integration_spark.io import excel, headers, sinks
        from hiv_data_integration_spark.pipeline.pnls import run_pipeline_c

        cycle, q = quarter_of(job)
        state = os.path.join(self.ctx.work, "state", cycle)
        out = os.path.join(self.ctx.work, "jobs", str(job))
        pdf = excel.read_xlsx_stdlib(self.books[q], SHEET)
        sheet = excel.excel_sheet_to_spark(self.spark, pdf, flatten_nested_header=True)
        sheet, district_here = headers.standardize_chu_columns(sheet, sheet_name=SHEET)
        sheet = headers.clean_chu_cells(sheet)
        report, _registry = run_pipeline_c(
            self.spark,
            sheets={SHEET: (sheet, SHEET_MAP)},
            facility_col="formations_sanitaires",
            period_col="periode",
            registry_path=os.path.join(state, "registry.parquet"),
            org_units=self.org_units,
            report_value_columns=self.report_value_columns,
            history_path=os.path.join(state, "history.parquet"),
            history_sheet=SHEET,
            history_prefix_map=HISTORY_MAP,
            quarter_end=QUARTER_END[q],
            year=YEAR,
            district_col="districts_sanitaires" if district_here else None,
        )
        self.report = report
        sinks.export_csv_per_period(report, "periode", os.path.join(out, "csv"))
        return out

    def check(self, job: int, out: str) -> list[str]:
        import pyarrow.parquet as pq

        if self.tracer.enabled:
            # after the job's latency was taken: forcing the physical plan
            # is not part of the job
            self.catalyst.append(catalyst_phases_ms(self.report))
        cycle, q = quarter_of(job)
        exp = self.expected[q]
        state = os.path.join(self.ctx.work, "state", cycle)
        errors = []
        reg = pq.read_table(os.path.join(state, "registry.parquet")).to_pylist()
        got = sorted(
            (r["formations_sanitaires"], r["districts_sanitaires"], r["organisation_unit_id"])
            for r in reg
        )
        if got != exp["registry"]:
            missing = set(exp["registry"]) - set(got)
            extra = set(got) - set(exp["registry"])
            errors.append(f"registry differs: missing {sorted(missing)[:3]} extra {sorted(extra)[:3]}")
        csv_dir = os.path.join(out, "csv")
        files = sorted(os.listdir(csv_dir))
        want = {f"{p[:4]}-{p[4:]}-01.csv": n for p, n in exp["rows"].items()}
        if files != sorted(want):
            errors.append(f"period files {files} != {sorted(want)}")
        semester_sum = None
        for name in files:
            with open(os.path.join(csv_dir, name), newline="") as fh:
                rows = list(csv.DictReader(fh))
            if len(rows) != want.get(name):
                errors.append(f"{name}: {len(rows)} rows != {want.get(name)}")
            if name == f"{exp['semester_period'][:4]}-{exp['semester_period'][4:]}-01.csv":
                semester_sum = sum(
                    int(v)
                    for r in rows
                    if r["Indicateur"] == str(HISTORY_MAP["indicateur_11_"])
                    for k, v in r.items()
                    if k not in ("idsite", "periode", "Indicateur") and v
                )
        if semester_sum != exp["semester_sum"]:
            errors.append(f"semester sum {semester_sum} != {exp['semester_sum']}")
        self.names_seen += exp["names"]
        self.names_matched += len({(f, d) for f, d, _ in got} & set(self.names_by_quarter[q]))
        for part, new, total in (
            ("registry.parquet", exp["new_registry"], len(got)),
            ("history.parquet", exp["new_history"], exp["history_rows"]),
        ):
            size = _dir_bytes(os.path.join(state, part))
            self.state_bytes += size
            self.new_row_bytes += size * new / total if total else 0.0
        self.cells += self.cells_per_quarter[q]
        self.files_written += len(files)
        self.bytes_written += sum(os.path.getsize(os.path.join(csv_dir, f)) for f in files)
        return errors

    def digest(self, out: str) -> str:
        csv_dir = os.path.join(out, "csv")
        return sha(sorted_file_lines(os.path.join(csv_dir, f) for f in os.listdir(csv_dir)))

    def input_digest(self) -> str:
        return sha(self.book_digests)

    def input_rows(self, job: int) -> int:
        return self.rows_per_quarter[quarter_of(job)[1]]

    def sizes(self) -> dict:
        return {
            "level4_facilities": len(self.l4),
            "districts": len(self.l3),
            "names_per_quarter": [len(n) for n in self.names_by_quarter],
            "sheet_rows_per_quarter": self.rows_per_quarter,
            "cells_per_quarter": self.cells_per_quarter,
        }

    def layer_metrics(self, n_jobs: int) -> dict:
        import statistics

        m = {
            "io.excel.cells": self.cells / n_jobs,
            "operators.fuzzy.names": self.names_seen / n_jobs,
            "operators.fuzzy.match_ratio": self.names_matched / self.names_seen,
            "operators.fuzzy.write_amp": self.state_bytes / self.new_row_bytes,
            "io.sinks.files": self.files_written / n_jobs,
            "io.sinks.bytes_written": self.bytes_written / n_jobs,
        }
        for phase in ("analysis", "optimization", "planning"):
            m[f"spark.catalyst.{phase}_ms"] = statistics.median(c[phase] for c in self.catalyst)
        return m


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )
