"""The three benchmark workloads: input preparation, one iteration, and
the output checks.

Each workload drives sparkcheck through its public entry points, mostly
the in-process CLI verbs (``sparkcheck.cli.main``). An iteration is a
list of named steps; the caller times each step as a span and runs
``check`` afterwards, outside the timed region.
"""

from __future__ import annotations

import contextlib
import csv
import io
import json
import os
from typing import Callable

SIZES = {
    # input rows per workload; "tiny" is the self-test size
    "full": {"validate_webtext": 200_000, "curate_webtext": 5_000, "tpch_sf": 0.01},
    "tiny": {"validate_webtext": 20_000, "curate_webtext": 4_000, "tpch_sf": 0.002},
}

# lineitem columns the profile/drift verbs cover, one of each profiler
# kind (numeric, temporal, string). l_shipdate's ~2.5 k distinct dates
# stay distinct in the 1-in-7 drift slice, so its unique-% moves far past
# the drift threshold: has_drift is true by construction.
PROFILE_COLS = ["l_quantity", "l_shipdate", "l_returnflag"]
TPCH_TABLES = ["lineitem", "orders", "customer", "part", "supplier"]


def _cli(argv: list[str]) -> tuple[int, list[dict]]:
    """Run one CLI verb in-process; return its exit code and the JSON
    lines it printed."""
    from sparkcheck.cli import main

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = main(argv)
    lines = []
    for ln in buf.getvalue().splitlines():
        with contextlib.suppress(ValueError):
            lines.append(json.loads(ln))
    return rc, lines


# The seed picks one of POOL_WINDOWS doc_id windows of a pool generated
# once per checkout, so a run never pays for input generation.
POOL_WINDOWS = 16


class WebtextPool:
    """`webtext_table` rows over POOL_WINDOWS × n doc_ids, written as one
    parquet directory per window (`w=<k>`). Every window starts at a
    multiple of 1000, so every planted-violation count
    (webtext/generate.py) is an exact function of n."""

    def __init__(self, data: str, n: int, seed: int):
        self.n = n
        self.root = os.path.join(data, f"webtext_pool_n{n}")
        self.window = seed % POOL_WINDOWS
        self.table = os.path.join(self.root, f"w={self.window}")

    def ready(self) -> bool:
        return os.path.exists(os.path.join(self.root, "_SUCCESS"))

    def build(self, spark) -> None:
        from pyspark.sql import functions as F

        from sparkcheck.webtext.generate import webtext_table

        # at least one file per core in every window, and files of at most
        # 12.5 k rows: a large window scans as many small tasks, so one core
        # lost to another process delays a scan by one task, not by a quarter
        files = max(spark.sparkContext.defaultParallelism, self.n // 12_500)
        per_file = -(-self.n // files)
        (webtext_table(spark, POOL_WINDOWS * self.n)
         .withColumn("w", (F.col("doc_id") / self.n).cast("int"))
         .write.mode("overwrite").option("maxRecordsPerFile", per_file)
         .partitionBy("w").parquet(self.root))


class Workload:
    name = ""
    rows = 0  # the stated input rows behind rows_per_s

    def __init__(self, spark, root: str, seed: int, size: str, wrong: bool = False):
        self.spark = spark
        self.root = root
        self.seed = seed
        self.size = size
        self.sizes = SIZES[size]
        # self-test hook: perturb one expected count so the check must fail
        self.wrong = 1 if wrong else 0
        self.data = os.path.join(root, ".bench", "data", size)
        self.work = os.path.join(root, ".bench", "work", self.name)
        os.makedirs(self.work, exist_ok=True)

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def prepare(self) -> None:
        """Build the inputs every seed draws from."""
        raise NotImplementedError

    def prepared(self) -> bool:
        """True when the inputs are already on disk (checked without Spark)."""
        raise NotImplementedError

    def steps(self) -> list[tuple[str, Callable[[dict], None]]]:
        raise NotImplementedError

    def check(self, out: dict) -> list[str]:
        """Compare an iteration's outputs with the expected values;
        return the list of mismatches (empty when correct)."""
        raise NotImplementedError

    def layer_values(self, out: dict) -> dict[str, float]:
        """Layer metrics read from the program's own outputs."""
        return {}


class WebtextWorkload(Workload):
    """A workload over one window of the seeded webtext pool."""

    def __init__(self, *a, **k):
        super().__init__(*a, **k)
        self.rows = self.sizes[self.name]
        self.pool = WebtextPool(self.data, self.rows, self.seed)
        self.table = self.pool.table

    def prepare(self) -> None:
        self.pool.build(self.spark)

    def prepared(self) -> bool:
        return self.pool.ready()


class ValidateWebtext(WebtextWorkload):
    """`sparkcheck validate` over the webtext table, then the per-partition
    verdicts plus the violation-row sink."""

    name = "validate_webtext"

    def __init__(self, *a, **k):
        super().__init__(*a, **k)
        self.rules = os.path.join(self.root, "examples", "webtext_rules.yaml")

    def steps(self):
        return [("validate", self._validate), ("verdicts_sink", self._sink)]

    def _validate(self, out):
        rc, _ = _cli(["validate", "--table", self.table, "--rules", self.rules,
                      "--bind", f"webtext={self.table}", "--out", self.path("report.json")])
        out["validate_rc"] = rc
        with open(self.path("report.json")) as f:
            out["report"] = json.load(f)

    def _sink(self, out):
        from pyspark.sql import functions as F

        from sparkcheck.compile import verdicts_and_sink
        from sparkcheck.webtext.generate import webtext_rules

        df = self.spark.read.parquet(self.table).withColumn(
            "warc_ts_epoch", F.unix_timestamp("warc_ts").cast("double"))
        out["verdicts"] = verdicts_and_sink(
            df, webtext_rules(), key_cols=["url"], sink_path=self.path("sink"))

    def check(self, out):
        k = self.rows // 1000
        want = {"url_not_null": k, "url_scheme": k, "text_not_null": k,
                "text_length": 0, "lang_not_null": k, "lang_enum": k,
                "doc_complete": 3 * k, "url_unique": k + self.wrong}
        bad = []
        if out["validate_rc"] != 2:  # 2 = "suite failed", the expected verdict
            bad.append(f"validate exit code {out['validate_rc']} != 2")
        got = {o["rule_id"]: o["violations"] for o in out["report"]["outcomes"]}
        if got != want:
            bad.append(f"validate violations {got} != {want}")
        per_rule: dict[str, int] = {}
        for r in out["verdicts"]:
            per_rule[r["rule_id"]] = per_rule.get(r["rule_id"], 0) + r["violations"]
        want_v = {"url_not_null": k, "url_scheme": k, "text_not_null": k,
                  "text_length": 0, "lang_enum": k, "lang_not_null": k,
                  "warc_ts_window": k}
        if per_rule != want_v:
            bad.append(f"verdict violations {per_rule} != {want_v}")
        sink_rows = self.spark.read.parquet(self.path("sink")).count()
        if sink_rows != 6 * k:
            bad.append(f"sink rows {sink_rows} != {6 * k}")
        return bad

    def layer_values(self, out):
        o = out["report"]["outcomes"]
        return {
            "compile.fused_pass_s": sum(x["elapsed_sec"] for x in o if x["rule_id"] != "url_unique"),
            "integrity.unique_s": sum(x["elapsed_sec"] for x in o if x["rule_id"] == "url_unique"),
        }


class ProfileTpch(Workload):
    """`sparkcheck profile`, `drift` and `validate --all-rulesets` over
    TPC-H tables made by DuckDB's dbgen (fixed data). The seed picks only
    the drift slice."""

    name = "profile_tpch"

    def __init__(self, *a, **k):
        super().__init__(*a, **k)
        self.sf = self.sizes["tpch_sf"]
        self.tpch = os.path.join(self.data, f"tpch_sf{self.sf}")
        self.residue = self.seed % 7
        # derived inputs are named after the profiled columns, so a cache
        # from another column list is never reused
        cols = "-".join(c.removeprefix("l_") for c in PROFILE_COLS)
        self.profile_in = os.path.join(self.tpch, f"lineitem_{cols}")
        self.slice = self._slice(self.residue)
        self.oracle = os.path.join(self.tpch, f"oracle_{cols}.json")
        self.rules = os.path.join(os.path.dirname(os.path.abspath(__file__)), "tpch_rules.yaml")

    def prepared(self) -> bool:
        return os.path.exists(self.oracle)

    def _slice(self, residue: int) -> str:
        return f"{self.profile_in}_slice{residue}"

    def t(self, name: str) -> str:
        return os.path.join(self.tpch, f"{name}.parquet")

    def prepare(self) -> None:
        import duckdb

        os.makedirs(self.tpch, exist_ok=True)
        con = duckdb.connect(config={"autoinstall_known_extensions": False,
                                     "autoload_known_extensions": False})
        if not all(os.path.exists(self.t(n)) for n in TPCH_TABLES):
            con.sql(f"CALL dbgen(sf={self.sf})")
            for n in TPCH_TABLES:
                con.sql(f"COPY {n} TO '{self.t(n)}.tmp' (FORMAT parquet)")
                os.replace(self.t(n) + ".tmp", self.t(n))
        cols = ", ".join(PROFILE_COLS)
        li = f"read_parquet('{self.t('lineitem')}')"
        derived = [(self._slice(r), f"l_orderkey % 7 = {r}") for r in range(7)]
        for path, where in [(self.profile_in, "true"), *derived]:
            if not os.path.exists(path):
                con.sql(f"COPY (SELECT {cols} FROM {li} WHERE {where}) "
                        f"TO '{path}.tmp' (FORMAT parquet)")
                os.replace(path + ".tmp", path)
        if not os.path.exists(self.oracle):
            with open(self.oracle + ".tmp", "w") as f:
                json.dump(self._oracle(con), f)
            os.replace(self.oracle + ".tmp", self.oracle)

    @property
    def rows(self) -> int:
        with open(self.oracle) as f:
            return json.load(f)["profile"]["rows"]

    def _oracle(self, con) -> dict:
        """Expected outputs, computed by DuckDB over the same parquet."""
        p = f"read_parquet('{self.profile_in}')"
        prof = {"rows": con.sql(f"SELECT count(*) FROM {p}").fetchone()[0], "columns": {}}
        for c in PROFILE_COLS:
            nulls, lo, hi = con.sql(
                f"SELECT count(*) - count({c}), min({c})::VARCHAR, max({c})::VARCHAR FROM {p}"
            ).fetchone()
            col = {"nulls": nulls, "min": lo, "max": hi}
            if c == "l_quantity":
                col["mean"] = con.sql(f"SELECT avg({c})::DOUBLE FROM {p}").fetchone()[0]
            if c == "l_returnflag":
                col["top"] = dict(con.sql(
                    f"SELECT {c}, count(*) FROM {p} GROUP BY 1").fetchall())
            prof["columns"][c] = col
        drift_rows = [con.sql(f"SELECT count(*) FROM read_parquet('{self._slice(r)}')").fetchone()[0]
                      for r in range(7)]

        def one(sql: str) -> int:
            return int(con.sql(sql).fetchone()[0])

        o, li = f"read_parquet('{self.t('orders')}')", f"read_parquet('{self.t('lineitem')}')"

        def orphans(child, ccol, parent, pcol):
            return one(f"SELECT count(*) FROM {child} c WHERE c.{ccol} IS NOT NULL AND "
                       f"NOT EXISTS (SELECT 1 FROM {parent} p WHERE p.{pcol} = c.{ccol})")

        rules = {
            "o_key_not_null": one(f"SELECT count(*) FROM {o} WHERE o_orderkey IS NULL"),
            "o_key_unique": one(f"SELECT count(o_orderkey) - count(DISTINCT o_orderkey) FROM {o}"),
            "o_priority_urgent": one(
                f"SELECT count(*) FROM {o} WHERE NOT regexp_matches(o_orderpriority, '^[12]-')"),
            "o_price_range": one(
                f"SELECT count(*) FROM {o} WHERE o_totalprice < 1000 OR o_totalprice > 400000"),
            "l_discount_range": one(
                f"SELECT count(*) FROM {li} WHERE l_discount < 0 OR l_discount > 0.08"),
            "l_shipmode_enum": one(
                f"SELECT count(*) FROM {li} WHERE l_shipmode NOT IN "
                "('TRUCK', 'MAIL', 'SHIP', 'RAIL', 'FOB', 'REG AIR')"),
            "l_orders_fk": orphans(li, "l_orderkey", o, "o_orderkey"),
            "l_part_fk": orphans(li, "l_partkey", f"read_parquet('{self.t('part')}')", "p_partkey"),
            "l_supplier_fk": orphans(
                li, "l_suppkey", f"read_parquet('{self.t('supplier')}')", "s_suppkey"),
        }
        return {"profile": prof, "drift_rows": drift_rows, "rules": rules}

    def steps(self):
        return [("profile", self._profile), ("drift", self._drift),
                ("validate_all", self._validate)]

    def _profile(self, out):
        rc, _ = _cli(["profile", "--table", self.profile_in, "--out", self.path("profile.json")])
        out["profile_rc"] = rc
        with open(self.path("profile.json")) as f:
            out["profile"] = json.load(f)

    def _drift(self, out):
        # baseline: this iteration's profile of the whole table
        rc, _ = _cli(["drift", "--table", self.slice, "--baseline", self.path("profile.json"),
                          "--out", self.path("drift.json")])
        out["drift_rc"] = rc
        with open(self.path("drift.json")) as f:
            out["drift"] = json.load(f)

    def _validate(self, out):
        binds = []
        for n in ("orders", "lineitem", "part", "supplier"):
            binds += ["--bind", f"{n}={self.t(n)}"]
        rc, _ = _cli(["validate", "--table", self.t("orders"), "--rules", self.rules,
                      "--all-rulesets", *binds, "--out", self.path("validate.json"),
                      "--csv", self.path("outcomes.csv")])
        out["validate_rc"] = rc
        with open(self.path("outcomes.csv"), newline="") as f:
            out["outcomes"] = list(csv.DictReader(f))

    def check(self, out):
        with open(self.oracle) as f:
            want = json.load(f)
        bad = []
        if out["profile_rc"] != 0:
            bad.append(f"profile exit code {out['profile_rc']}")
        prof = out["profile"]
        if prof["total_rows"] != want["profile"]["rows"]:
            bad.append(f"profile rows {prof['total_rows']} != {want['profile']['rows']}")
        for c, w in want["profile"]["columns"].items():
            cs = prof["columns"][c]
            if cs["null_count"] != w["nulls"]:
                bad.append(f"{c} nulls {cs['null_count']} != {w['nulls']}")
            for stat in ("min", "max"):
                got = cs[f"{stat}_value"]
                if str(got) != w[stat] and not _num_eq(got, w[stat]):
                    bad.append(f"{c} {stat} {got} != {w[stat]}")
            # Spark's avg of DECIMAL(15,2) is a DECIMAL with scale 6
            if "mean" in w and not _num_eq(cs["mean"], w["mean"], 5e-7):
                bad.append(f"{c} mean {cs['mean']} != {w['mean']}")
            if "top" in w:
                top = {t["value"]: t["count"] for t in cs["top_values"]}
                if top != w["top"]:
                    bad.append(f"{c} top values {top} != {w['top']}")
        if out["drift_rc"] != 3:  # 3 = drift found, true of the slice by construction
            bad.append(f"drift exit code {out['drift_rc']} != 3")
        want_rows = want["drift_rows"][self.residue]
        if out["drift"]["current_rows"] != want_rows:
            bad.append(f"drift rows {out['drift']['current_rows']} != {want_rows}")
        got = {r["rule_id"]: int(r["violations"]) for r in out["outcomes"]}
        exp = dict(want["rules"])
        exp["o_key_unique"] += self.wrong
        if got != exp:
            bad.append(f"rule violations {got} != {exp}")
        want_rc = 2 if any(exp.values()) else 0
        if out["validate_rc"] != want_rc:
            bad.append(f"validate exit code {out['validate_rc']} != {want_rc}")
        return bad

    def layer_values(self, out):
        o = {r["rule_id"]: float(r["elapsed_sec"]) for r in out["outcomes"]}
        ri = [v for k, v in o.items() if k.endswith("_fk")]
        return {
            "compile.fused_pass_s": sum(v for k, v in o.items()
                                        if not k.endswith(("_fk", "_unique"))),
            "integrity.unique_s": o["o_key_unique"],
            # the RI rules run as one concurrent wave: its wall is the max
            "integrity.orphan_s": max(ri),
        }


def _num_eq(a, b, tol: float = 0.0) -> bool:
    try:
        return abs(float(a) - float(b)) <= tol + 1e-9 * max(1.0, abs(float(b)))
    except (TypeError, ValueError):
        return False


class CurateWebtext(WebtextWorkload):
    """The byte-identity extraction check, then `sparkcheck curate`
    (dedup → tokens → seeded shuffle → packing → parquet)."""

    name = "curate_webtext"

    def __init__(self, *a, **k):
        super().__init__(*a, **k)
        self.funnel = f"{self.pool.root}.w{self.pool.window}.funnel.json"

    def steps(self):
        return [("extract_identity", self._extract), ("curate", self._curate)]

    def _extract(self, out):
        from sparkcheck.textextract import extraction_mismatch_rows

        out["mismatches"] = extraction_mismatch_rows(self.spark.read.parquet(self.table)).count()

    def _curate(self, out):
        rc, lines = _cli(["curate", "--table", self.table, "--out", self.path("curated"),
                          "--no-quality", "--url-col", "url", "--shards", "8"])
        out["curate_rc"] = rc
        out["funnel"] = {k: v for k, v in lines[-1].items() if k != "out"}

    def check(self, out):
        k = self.rows // 1000
        bad = []
        if out["mismatches"] != 2 * k + self.wrong:
            bad.append(f"extraction mismatches {out['mismatches']} != {2 * k + self.wrong}")
        f = out["funnel"]
        if out["curate_rc"] != 0 or f["input_docs"] != self.rows:
            bad.append(f"curate rc={out['curate_rc']} input_docs={f['input_docs']}")
        if not f["after_dedup"] <= self.rows - k:
            bad.append(f"after_dedup {f['after_dedup']} > {self.rows - k}")
        if not 0 < f["packed_docs"] <= f["after_dedup"] or f["tokens"] <= 0:
            bad.append(f"packing funnel {f}")
        # the funnel repeats exactly for a seed: within this run and
        # against the first run that recorded it
        if os.path.exists(self.funnel):
            with open(self.funnel) as fh:
                first = json.load(fh)
            if first != f:
                bad.append(f"funnel {f} != recorded {first}")
        elif not bad:
            with open(self.funnel, "w") as fh:
                json.dump(f, fh)
        return bad

    def layer_values(self, out):
        f = out["funnel"]
        return {"dedup.keep_ratio": f["after_dedup"] / f["input_docs"]}


WORKLOADS = {w.name: w for w in (ValidateWebtext, ProfileTpch, CurateWebtext)}
