"""pnls_monthly: the PNLS monthly report, pipeline A, one month per job.

Each month fetches the IST, PEC and PTME facts at full contract width
(154 + 236 + 33 data elements, one request per data element) through
``io.rest.dhis2_analytics_source`` and the NAOMI estimates through
``naomi_source``. The fetchers are seeded in-process fakes; a seeded share
of requests fails once, so the retry path runs (with ``retry_sleep=0``).
``run_pipeline_a`` then applies all 279 shipped rules, and the month is
written with ``export_csv_per_period`` and ``write_excel_review``.

Facility rows are ``scale × template``: one rule-consistent template per
pathology, found at set-up. A seeded share of facilities per month gets a
violation (one column ×0 or ×3). Every rule compares sums of columns
with no constants, so scaling a row by a positive factor keeps each
rule's outcome; the expected flagged and consistent counts therefore come
from ``evaluate_rules_python`` on the template and on each violation kind
(spot-checked on scaled rows at set-up).
"""

from __future__ import annotations

import json
import os
import random
import re
import time
import zipfile
import zlib

from pyspark.accumulators import AccumulatorParam

from perfbench.harness import sha, sorted_file_lines
from perfbench.trace import catalyst_phases_ms

PATHOLOGIES = ("IST", "PEC", "PTME")
N_FACILITIES = 700
N_DISTRICTS = 35
PLANT_SHARE = 0.10
FAIL_SHARE = 0.05
VIOLATION_KINDS = 6
MAX_MONTHS = 120
START_ROW = {"IST": 6, "PEC": 6, "PTME": 4}

NAOMI_SEX = {"male": "M", "female": "F"}
NAOMI_AGE = {
    "Y000_004": "age_0_4_ans",
    "Y005_009": "age_05_09_ans",
    "Y010_014": "age_10_14_ans",
    "Y015_019": "age_15_19_ans",
    "Y020_024": "age_20_24_ans",
    "Y025_049": "age_25_49_ans",
    "Y050_999": "age_50_ans_et_plus",
}
NAOMI_COLUMNS = {"aware_plhiv_num": "indicateur_9", "plhiv": "indicateur_10"}

_OPS = re.compile(r"(<=|>=|==|!=|<|>)")
_LETTER = re.compile(r"\b[A-Z]{1,2}\b")


def _h(*parts) -> int:
    return zlib.crc32(":".join(str(p) for p in parts).encode())


def period_of(job: int) -> tuple[str, int, str]:
    """Job 0 is 2024-01; job i is the month after job i-1."""
    year, mm = 2024 + job // 12, f"{job % 12 + 1:02d}"
    return f"{year}{mm}", year, mm


class KeySet(AccumulatorParam):
    """Accumulates the set of request keys that were served."""

    def zero(self, value):
        return set()

    def addInPlace(self, a, b):
        a |= b
        return a


class AnalyticsFetcher:
    """Fake DHIS2 analytics endpoint: one request returns one data
    element's value for every facility in one period."""

    def __init__(self, job, seed, facilities, values, planted, kinds, acc):
        self.job = job
        self.seed = seed
        self.facilities = facilities
        self.values = values  # de_id -> (pathology, column, template value)
        self.planted = planted  # pathology -> {facility idx: kind}, this month
        self.kinds = kinds  # pathology -> [(column, factor)]
        self.acc = acc  # requests, failures, rows, busy seconds, served keys
        self._failed: set = set()

    def __call__(self, param: dict) -> list[dict]:
        t0 = time.perf_counter()
        requests, failures, rows_acc, busy, served = self.acc
        requests.add(1)
        de, period = param["data_element"], param["period"]
        if _h(self.seed, de, period) % 100 < FAIL_SHARE * 100 and (de, period) not in self._failed:
            self._failed.add((de, period))
            failures.add(1)
            busy.add(time.perf_counter() - t0)
            raise ConnectionError(f"simulated timeout for {de}/{period}")
        pathology, column, base = self.values[de]
        planted = self.planted[pathology]
        kinds = self.kinds[pathology]
        rows = []
        for idx, fac in enumerate(self.facilities):
            v = (1 + _h(self.seed, period, idx) % 20) * base
            kind = planted.get(idx)
            if kind is not None and kinds[kind][0] == column:
                v *= kinds[kind][1]
            rows.append(
                {
                    "data_element_id": de,
                    "category_option_combo_id": DEFAULT_COC,
                    "organisation_unit_id": fac,
                    "period": period,
                    "value": str(v),
                }
            )
        rows_acc.add(len(rows))
        served.add({("dhis2", self.job, de, period)})
        busy.add(time.perf_counter() - t0)
        return rows


class NaomiFetcher:
    """Fake NAOMI endpoint: nested country → region → district JSON."""

    def __init__(self, job, seed, year, districts, acc):
        self.job, self.seed, self.year, self.districts, self.acc = job, seed, year, districts, acc
        self._failed: set = set()

    def __call__(self, param: dict) -> list[dict]:
        t0 = time.perf_counter()
        requests, failures, rows_acc, busy, served = self.acc
        requests.add(1)
        key = (param["indicator"], param["sex"], param["age_code"])
        if _h(self.seed, self.year, *key) % 100 < FAIL_SHARE * 100 and key not in self._failed:
            self._failed.add(key)
            failures.add(1)
            busy.add(time.perf_counter() - t0)
            raise ConnectionError(f"simulated timeout for NAOMI {key}")
        regions: dict[str, list] = {}
        for code in self.districts:
            mean = (_h(self.seed, self.year, code, *key) % 50000) / 10.0
            regions.setdefault(code[:3], []).append({"code": code, "name": code, "mean": mean})
        payload = [{"subareas": [{"subareas": leaves} for leaves in regions.values()]}]
        rows_acc.add(len(self.districts))
        served.add({("naomi", self.job, *key)})
        busy.add(time.perf_counter() - t0)
        return [
            {
                "indicator": param["indicator"],
                "coc_name": f"{param['sex']}|{param['age_code']}",
                "payload_json": json.dumps(payload),
            }
        ]


DEFAULT_COC = "HllvX50cXC0"


def consistent_template(pathology: str, rng: random.Random) -> dict[str, int]:
    """Integer values on the pathology's contract that fire no rule:
    start random and raise one side of every firing comparison until no
    rule fires (each rule flags a row when its comparison is true)."""
    from hiv_data_integration_spark import ref_constants as rc
    from hiv_data_integration_spark.operators.rules import default_letter_binding

    cols = ["organisation_unit_id", "period"] + rc.expected_value_columns(pathology)
    bind = default_letter_binding(cols)
    v = {c: rng.randint(5, 40) for c in cols[2:]}
    parsed = []
    for rule in rc.rules_for(pathology).values():
        if re.search(r"[\d*/]", rule.formula):
            raise ValueError(f"rule {rule.formula!r} is not a constant-free sum comparison")
        left, op, right = _OPS.split(rule.formula)
        parsed.append(
            ([bind[x] for x in _LETTER.findall(left)], op, [bind[x] for x in _LETTER.findall(right)])
        )
    for _ in range(1000):
        changed = False
        for left, op, right in parsed:
            sl, sr = sum(v[c] for c in left), sum(v[c] for c in right)
            if op in ("<", "<=") and sl <= sr and (op == "<=" or sl < sr):
                v[left[0]] += sr - sl + (op == "<=")
            elif op in (">", ">=") and sl >= sr and (op == ">=" or sl > sr):
                v[right[0]] += sl - sr + (op == ">=")
            elif op == "!=" and sl != sr:
                v[left[0] if sl < sr else right[0]] += abs(sr - sl)
            elif op == "==" and sl == sr:
                v[left[0]] += 1
            else:
                continue
            changed = True
        if not changed:
            return v
    raise RuntimeError(f"no consistent template found for {pathology}")


class Workload:
    name = "pnls_monthly"

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tracer = ctx.tracer
        self.flagged_seen = 0
        self.bytes_written = 0
        self.files_written = 0
        self.catalyst: list[dict] = []

    # -- set-up ------------------------------------------------------------
    def setup(self) -> None:
        from hiv_data_integration_spark import ref_constants as rc
        from hiv_data_integration_spark.functions import standardize_column_name
        from hiv_data_integration_spark.io.excel import write_xlsx_workbook
        from hiv_data_integration_spark.operators.rules import (
            default_letter_binding,
            evaluate_rules_python,
        )

        spark, seed = self.spark, self.ctx.seed
        rng = random.Random(seed)
        self.districts = [f"D{r:02d}{d:02d}" for r in range(5) for d in range(N_DISTRICTS // 5)]
        self.facilities = [f"F{seed % 1000:03d}{i:05d}" for i in range(N_FACILITIES)]
        root = "ZD44Asc0bAk"
        ou = [("R%d" % r, f"Region {r}", 2, f"/{root}/R{r}", None) for r in range(5)]
        ou += [(d, f"DS {d}", 3, f"/{root}/R{int(d[1:3])}/{d}", None) for d in self.districts]
        ou += [
            (f, f"Facility {f}", 4, f"/{root}/R{i % 5}/{self.districts[i % N_DISTRICTS]}/{f}", None)
            for i, f in enumerate(self.facilities)
        ]
        self.org_units = spark.createDataFrame(
            ou, "id string, name string, level long, path string, geometry string"
        )
        self.coc = spark.createDataFrame([(DEFAULT_COC, "default")], "id string, name string")
        self.district_map = spark.createDataFrame(
            [(d, d) for d in self.districts], "code string, organisation_unit_id string"
        )

        # templates, violation kinds and their oracle outcomes
        self.de_ids: dict[str, list[str]] = {}
        self.de_maps = {}
        values: dict[str, tuple] = {}
        self.kinds: dict[str, list[tuple[str, int]]] = {}
        groups: dict[str, int] = {}
        report_cols: set[str] = set()
        for p in PATHOLOGIES:
            contract = rc.expected_value_columns(p)
            cols = ["organisation_unit_id", "period"] + contract
            keys = cols[:2]
            rules = rc.rules_for(p)
            template = consistent_template(p, rng)
            base_row = dict(template, organisation_unit_id="x", period="p")
            if any(evaluate_rules_python([base_row], cols, rules, keys)[0].values()):
                raise RuntimeError(f"{p} template fires a rule")
            letters = sorted({x for r in rules.values() for x in _LETTER.findall(r.formula)})
            by_letter = default_letter_binding(cols)
            # violation kinds: (column, factor) pairs the oracle flags
            kinds: list[tuple[str, int]] = []
            for _ in range(200):
                if len(kinds) == VIOLATION_KINDS:
                    break
                col = by_letter[rng.choice(letters)]
                factor = rng.choice((0, 3))
                row = dict(base_row, **{col: template[col] * factor})
                if (col, factor) in kinds or not any(
                    evaluate_rules_python([row], cols, rules, keys)[0].values()
                ):
                    continue
                # spot-check the scaling argument on this kind
                k = rng.randint(2, 20)
                scaled = {c: (v * k if c not in keys else v) for c, v in row.items()}
                if not any(evaluate_rules_python([scaled], cols, rules, keys)[0].values()):
                    raise RuntimeError("rule outcome changed under scaling")
                kinds.append((col, factor))
            self.kinds[p] = kinds
            ids = [f"{p}_de{j:03d}" for j in range(len(contract))]
            self.de_ids[p] = ids
            for de, c in zip(ids, contract):
                values[de] = (p, c, template[c])
            self.de_maps[p] = spark.createDataFrame(
                [(de, c, "data_element") for de, c in zip(ids, contract)],
                "id string, column string, type string",
            )
            pmap = rc.REPORT_INDICATOR_MAPS[p]
            groups[p] = sum(any(c.startswith(pre) for c in contract) for pre in pmap)
            report_cols |= {
                standardize_column_name(c) for c in contract for pre in pmap if c.startswith(pre)
            }
        report_cols |= {
            standardize_column_name(f"{col}_{age}_{sex}")
            for col in NAOMI_COLUMNS.values()
            for age in NAOMI_AGE.values()
            for sex in NAOMI_SEX.values()
        }
        self.report_value_columns = sorted(report_cols)

        # per-month planted violations and expected outputs: every kind is
        # flagged, every other facility is consistent; each consistent
        # facility stacks to one report row per indicator group, and each
        # NAOMI district to one row per NAOMI indicator
        self.planted: dict[str, dict[str, dict[int, int]]] = {}
        self.expected: dict[str, dict] = {}
        n_plant = int(N_FACILITIES * PLANT_SHARE)
        for job in range(MAX_MONTHS):
            period = period_of(job)[0]
            self.planted[period] = {
                p: {
                    idx: rng.randrange(len(self.kinds[p]))
                    for idx in rng.sample(range(N_FACILITIES), n_plant)
                }
                for p in PATHOLOGIES
            }
            self.expected[period] = {
                "flagged": {p: n_plant for p in PATHOLOGIES},
                "report_rows": sum((N_FACILITIES - n_plant) * groups[p] for p in PATHOLOGIES)
                + len(self.districts) * len(NAOMI_COLUMNS),
            }

        sc = self.spark.sparkContext
        self.acc = tuple(sc.accumulator(0) for _ in range(3)) + (
            sc.accumulator(0.0),
            sc.accumulator(set(), KeySet()),
        )
        self.values = values
        self.template = os.path.join(self.ctx.work, "review_template.xlsx")
        write_xlsx_workbook(
            self.template,
            {
                p: [[f"Revue des incohérences {p}"]] + [[None]] * (START_ROW[p] - 2)
                for p in PATHOLOGIES
            },
        )
        self.grid_requests = sum(len(v) for v in self.de_ids.values()) + len(
            NAOMI_COLUMNS
        ) * len(NAOMI_SEX) * len(NAOMI_AGE)

    def install_trace(self) -> None:
        from hiv_data_integration_spark.io import sinks
        from hiv_data_integration_spark.pipeline import pnls

        t = self.tracer
        t.wrap(pnls, "pathology_extract", "pipeline.extract.build")
        t.wrap(pnls, "pivot_agg", "pipeline.extract.build")  # the NAOMI pivot
        t.wrap(
            pnls,
            "split_by_consistency",
            "operators.rules.build",
            on_call=lambda df, rules, *a, **k: t.count("operators.rules.rules", len(rules)),
        )
        t.wrap(pnls, "stack_pathologies", "pipeline.report.build")
        t.wrap(pnls, "finalize_report", "pipeline.report.build")
        t.wrap(sinks, "export_csv_per_period", "io.sinks.csv", kind="sink")
        t.wrap(sinks, "write_excel_review", "io.sinks.excel", kind="sink")

    # -- one job -----------------------------------------------------------
    def run_job(self, job: int) -> str:
        from hiv_data_integration_spark.io import rest, sinks
        from hiv_data_integration_spark.pipeline.pnls import (
            naomi_to_wide,
            reference_pathology_spec,
            run_pipeline_a,
        )
        from hiv_data_integration_spark import ref_constants as rc

        spark = self.spark
        period, year, mm = period_of(job)
        out = os.path.join(self.ctx.work, "jobs", str(job))
        fetcher = AnalyticsFetcher(
            job,
            self.ctx.seed,
            self.facilities,
            self.values,
            self.planted[period],
            self.kinds,
            self.acc,
        )
        specs = [
            reference_pathology_spec(
                p,
                rest.dhis2_analytics_source(spark, fetcher, self.de_ids[p], [period], retry_sleep=0),
                self.de_maps[p],
            )
            for p in PATHOLOGIES
        ]
        naomi = rest.naomi_source(
            spark, NaomiFetcher(job, self.ctx.seed, year, self.districts, self.acc), retry_sleep=0
        )
        naomi_wide = naomi_to_wide(
            naomi,
            self.district_map,
            {f"{s}|{a}": f"{age}_{sx}" for s, sx in NAOMI_SEX.items() for a, age in NAOMI_AGE.items()},
            NAOMI_COLUMNS,
            year,
            [mm],
        )
        report, flagged = run_pipeline_a(
            spark,
            specs,
            self.coc,
            self.org_units,
            self.report_value_columns,
            naomi_wide=(naomi_wide, dict(rc.REPORT_INDICATOR_MAPS["NAOMI"])),
        )
        self.report = report
        sinks.export_csv_per_period(report, "periode", os.path.join(out, "csv"))
        for p in PATHOLOGIES:
            sinks.write_excel_review(
                flagged[p], self.template, p, os.path.join(out, f"review_{p}.xlsx"), START_ROW[p]
            )
        return out

    def check(self, job: int, out: str) -> list[str]:
        if self.tracer.enabled:
            # after the job's latency was taken: forcing the physical plan
            # is not part of the job
            self.catalyst.append(catalyst_phases_ms(self.report))
        period = period_of(job)[0]
        exp = self.expected[period]
        errors = []
        csv_dir = os.path.join(out, "csv")
        csvs = sorted(os.listdir(csv_dir))
        if len(csvs) != 1:
            errors.append(f"expected one period file, got {csvs}")
        else:
            with open(os.path.join(csv_dir, csvs[0])) as fh:
                n = sum(1 for _ in fh) - 1
            if n != exp["report_rows"]:
                errors.append(f"report rows {n} != {exp['report_rows']}")
        files = [os.path.join(csv_dir, c) for c in csvs]
        for p in PATHOLOGIES:
            path = os.path.join(out, f"review_{p}.xlsx")
            files.append(path)
            n = review_rows(path, START_ROW[p])
            self.flagged_seen += n
            if n != exp["flagged"][p]:
                errors.append(f"{p} flagged rows {n} != {exp['flagged'][p]}")
        self.files_written += len(files)
        self.bytes_written += sum(os.path.getsize(f) for f in files)
        return errors

    def digest(self, out: str) -> str:
        csv_dir = os.path.join(out, "csv")
        lines = sorted_file_lines(os.path.join(csv_dir, f) for f in os.listdir(csv_dir))
        for p in PATHOLOGIES:
            with zipfile.ZipFile(os.path.join(out, f"review_{p}.xlsx")) as zf:
                for name in sorted(zf.namelist()):
                    if name.startswith("xl/worksheets/"):
                        xml = zf.read(name).decode("utf-8")
                        lines += sorted(re.findall(r"<(?:\w+:)?row\b.*?</(?:\w+:)?row>", xml))
        return sha(lines)

    def input_digest(self) -> str:
        return sha(
            json.dumps([self.planted, self.kinds, sorted(self.values.items())], sort_keys=True)
        )

    def input_rows(self, job: int) -> int:
        return N_FACILITIES * sum(len(v) for v in self.de_ids.values())

    def sizes(self) -> dict:
        from hiv_data_integration_spark import ref_constants as rc

        return {
            "facilities": N_FACILITIES,
            "districts": len(self.districts),
            "data_elements": {p: len(v) for p, v in self.de_ids.items()},
            "fact_rows_per_month": self.input_rows(0),
            "rules": sum(len(rc.rules_for(p)) for p in PATHOLOGIES),
            "planted_share": PLANT_SHARE,
            "fail_once_share": FAIL_SHARE,
        }

    def layer_metrics(self, n_jobs: int) -> dict:
        import statistics

        requests, failures, rows, busy, served = (a.value for a in self.acc)
        m = {
            "io.rest.call_s": busy / n_jobs,
            "io.rest.requests": requests / n_jobs,
            "io.rest.retried": failures / n_jobs,
            "io.rest.dropped": (self.grid_requests * n_jobs - len(served)) / n_jobs,
            "io.rest.rows": rows / n_jobs,
            "operators.rules.rules": self.tracer.counts["operators.rules.rules"] / n_jobs,
            "operators.rules.flagged_rows": self.flagged_seen / n_jobs,
            "io.sinks.files": self.files_written / n_jobs,
            "io.sinks.bytes_written": self.bytes_written / n_jobs,
        }
        for phase in ("analysis", "optimization", "planning"):
            m[f"spark.catalyst.{phase}_ms"] = statistics.median(c[phase] for c in self.catalyst)
        return m


def review_rows(path: str, start_row: int) -> int:
    """Data rows (at or below ``start_row``) in a review workbook's only
    written sheet, counted from the sheet XML."""
    with zipfile.ZipFile(path) as zf:
        counts = []
        for name in zf.namelist():
            if name.startswith("xl/worksheets/sheet"):
                xml = zf.read(name).decode("utf-8")
                counts.append(
                    sum(1 for r in re.findall(r'<(?:\w+:)?row[^>]*\br="(\d+)"', xml) if int(r) >= start_row)
                )
        return max(counts)
