"""Output checkers for the benchmark workloads, and their self-test.

Each checker returns a list of problems; an empty list means the output is
correct. The expectations are derived independently of the engine:

- verdict totals come from ``fixtures.build_plan``, the plant plan the
  fixture generator applies (each planted row breaks exactly the checks
  listed in ``expected_totals``);
- a resumed job must leave the same violation rows as the uninterrupted
  run, compared as a multiset, so a row written twice is caught.

``self_test`` feeds every checker one correct and several corrupted
outputs and fails unless each corruption is rejected. It needs no Spark
and runs at the start of every benchmark run.
"""

from __future__ import annotations

from collections import Counter
from typing import Iterable, NamedTuple

from jsonschema_spark import fixtures as FX


class Verdict(NamedTuple):
    part_id: int | None
    check_id: str
    keyword: str
    path: str
    passed: bool
    n_violations: int
    pass_id: str


# The compiled row checks of SPEC_IMAGES (P1); every one has a verdict per
# partition whether or not any row breaks it.
ROW_CHECKS = (
    "enum@/fmt", "maxLength@/caption", "minLength@/caption",
    "maxLength@/image_id", "minLength@/image_id", "pattern@/image_id",
    "minimum@/w", "maximum@/w", "minimum@/h", "maximum@/h",
    *(f"required@/{c}" for c in
      ("image_id", "bytes", "w", "h", "fmt", "caption", "phash")),
)
UNIQUE_CHECKS = ("uniqueItems@/image_id", "uniqueItems@/phash")
REF_CHECKS = ("references@/fmt->dim_fmt.fmt",
              "references@/image_id->dim_license.image_id")
# The drift plant widens w and doubles the captions of one partition; h
# and fmt keep their distribution.
DRIFTED_CHECKS = ("drift@/w", "drift@/caption_len")


def expected_totals(cfg: FX.FixtureConfig) -> dict[str, int]:
    """Table-wide violation count of every P1/P2/P3 check of SPEC_IMAGES
    over the fixture ``cfg``. The plant pool is drawn without replacement,
    so each planted row carries exactly one plant."""
    p = FX.build_plan(cfg)
    out = dict.fromkeys(ROW_CHECKS + UNIQUE_CHECKS + REF_CHECKS, 0)
    # "IMG_<i>" fails the pattern and is shorter than 16 characters
    out["pattern@/image_id"] = len(p.bad_id)
    out["minLength@/image_id"] = len(p.bad_id)
    out["minimum@/w"] = len(p.w_zero)
    out["maximum@/h"] = len(p.h_big)
    out["enum@/fmt"] = len(p.orphan_fmt)
    out["required@/caption"] = len(p.null_caption)
    # a copied id / phash makes both rows of the pair duplicates
    out["uniqueItems@/image_id"] = 2 * len(p.dup_id)
    out["uniqueItems@/phash"] = 2 * len(p.dup_phash)
    out["references@/fmt->dim_fmt.fmt"] = len(p.orphan_fmt)
    # dim_license lists every img-<i> id except the license orphans; the
    # IMG_<i> ids of bad_id rows are not in it either
    out["references@/image_id->dim_license.image_id"] = (
        len(p.orphan_license) + len(p.bad_id))
    return out


def check_verdicts(rows: Iterable[tuple], cfg: FX.FixtureConfig) -> list[str]:
    """Check a validate_table verdict matrix over the fixture ``cfg``:
    per-check totals, one verdict per (partition, check) for every P1-P3
    check, ``passed`` consistent with the count, and drift failing on
    exactly the planted partition."""
    vs = [Verdict(*r) for r in rows]
    problems: list[str] = []
    want = expected_totals(cfg)
    got = Counter()
    cells = Counter()
    for v in vs:
        if v.check_id in want and v.part_id is not None:
            got[v.check_id] += v.n_violations
            cells[(v.part_id, v.check_id)] += 1
            if v.passed != (v.n_violations == 0):
                problems.append(f"{v.check_id} part {v.part_id}: passed="
                                f"{v.passed} with {v.n_violations} violations")
    for cid, n in want.items():
        if got[cid] != n:
            problems.append(f"{cid}: {got[cid]} violations, expected {n}")
    for part in range(cfg.n_parts):
        for cid in want:
            if cells[(part, cid)] != 1:
                problems.append(f"{cid} part {part}: {cells[(part, cid)]} "
                                "verdict rows, expected 1")
    failed = {(v.part_id, v.check_id) for v in vs
              if v.pass_id == "drift" and not v.passed}
    want_drift = {(cfg.drift_part, c) for c in DRIFTED_CHECKS}
    if failed != want_drift:
        problems.append(f"drift failures {sorted(failed)}, "
                        f"expected {sorted(want_drift)}")
    return problems[:20]


def check_resume(fresh: list[tuple], resumed: list[tuple]) -> list[str]:
    """Violation rows after a kill and ``--resume`` must equal those of the
    uninterrupted run as a multiset, and there must be some."""
    if not fresh:
        return ["the uninterrupted run wrote no violation rows"]
    a, b = Counter(fresh), Counter(resumed)
    if a == b:
        return []
    lost = sum((a - b).values())
    extra = sum((b - a).values())
    return [f"resumed violations differ from the uninterrupted run: "
            f"{lost} rows missing, {extra} rows extra "
            f"(e.g. {list(((b - a) or (a - b)).elements())[:2]})"]


def check_summaries(fresh: dict, resumed: dict, n_rows: int, n_parts: int,
                    n_done: int, manifest_parts: set) -> list[str]:
    """The job summaries and the manifest after the resume."""
    problems = []
    if fresh.get("status") != "ok" or fresh.get("n_rows") != n_rows:
        problems.append(f"fresh run summary {fresh.get('status')} with "
                        f"{fresh.get('n_rows')} rows, expected ok/{n_rows}")
    if resumed.get("n_partitions") != n_parts - n_done:
        problems.append(f"resume processed {resumed.get('n_partitions')} "
                        f"partitions, expected {n_parts - n_done}")
    if resumed.get("table_n_violations") != fresh.get("table_n_violations"):
        problems.append("resumed table_n_violations "
                        f"{resumed.get('table_n_violations')} != "
                        f"{fresh.get('table_n_violations')}")
    if manifest_parts != set(range(n_parts)):
        problems.append(f"manifest covers {sorted(manifest_parts)}, "
                        f"expected all {n_parts} partitions")
    return problems


def synthetic_verdicts(cfg: FX.FixtureConfig) -> list[tuple]:
    """A verdict matrix that satisfies ``check_verdicts``: each check's
    expected total sits in partition 0, plus one drift row per partition."""
    want = expected_totals(cfg)
    rows = []
    for part in range(cfg.n_parts):
        for cid, n in want.items():
            kw, path = cid.split("@", 1)
            nv = n if part == 0 else 0
            rows.append((part, cid, kw, path, nv == 0, nv, "rows"))
        for c in ("w", "h", "fmt", "caption_len"):
            ok = not (part == cfg.drift_part and f"drift@/{c}" in DRIFTED_CHECKS)
            rows.append((part, f"drift@/{c}", "drift", f"/{c}", ok,
                         0 if ok else 1, "drift"))
    return rows


def self_test() -> list[str]:
    """Each checker must accept a correct output and reject each corrupted
    one. Returns the failures (empty when every checker has teeth)."""
    failures = []
    cfg = FX.FixtureConfig(n=4000, n_parts=8, with_bytes=False, drift_part=3)
    good = synthetic_verdicts(cfg)
    if check_verdicts(good, cfg):
        failures.append(f"check_verdicts rejects a correct matrix: "
                        f"{check_verdicts(good, cfg)[:2]}")

    def corrupt(i: int, **changes) -> list[tuple]:
        rows = list(good)
        rows[i] = tuple(Verdict(*rows[i])._replace(**changes))
        return rows

    i_pat = next(i for i, r in enumerate(good)
                 if r[0] == 0 and r[1] == "pattern@/image_id")
    i_w = next(i for i, r in enumerate(good)
               if r[0] == cfg.drift_part and r[1] == "drift@/w")
    verdict_cases = {
        "count off by one": corrupt(i_pat, n_violations=good[i_pat][5] + 1),
        "passed flipped": corrupt(i_pat, passed=True),
        "verdict row dropped": good[:i_pat] + good[i_pat + 1:],
        "verdict row doubled": good + [good[i_pat]],
        "drift plant missed": corrupt(i_w, passed=True, n_violations=0),
    }
    for what, rows in verdict_cases.items():
        if not check_verdicts(rows, cfg):
            failures.append(f"check_verdicts accepts a corrupted matrix ({what})")

    fresh = [("rows", 0, "IMG_1", "pattern", "/image_id", "IMG_1"),
             ("unique", 1, "img-000000000002", "uniqueItems", "/image_id", "x")]
    if check_resume(fresh, list(reversed(fresh))):
        failures.append("check_resume rejects a reordered copy")
    resume_cases = {
        # a set comparison would accept this one
        "row written twice": fresh + [fresh[0]],
        "row lost": fresh[:1],
        "both empty": [],
    }
    for what, resumed in resume_cases.items():
        base = [] if what == "both empty" else fresh
        if not check_resume(base, resumed):
            failures.append(f"check_resume accepts a corrupted output ({what})")

    ok_fresh = {"status": "ok", "n_rows": 100, "table_n_violations": 7}
    ok_resumed = {"status": "ok", "n_partitions": 2, "table_n_violations": 7}
    if check_summaries(ok_fresh, ok_resumed, 100, 4, 2, {0, 1, 2, 3}):
        failures.append("check_summaries rejects correct summaries")
    summary_cases = {
        "resume redid a done partition":
            (ok_fresh, dict(ok_resumed, n_partitions=3), {0, 1, 2, 3}),
        "resumed total differs":
            (ok_fresh, dict(ok_resumed, table_n_violations=8), {0, 1, 2, 3}),
        "manifest lost a partition": (ok_fresh, ok_resumed, {0, 1, 2}),
        "fresh run short of rows":
            (dict(ok_fresh, n_rows=99), ok_resumed, {0, 1, 2, 3}),
    }
    for what, (f, r, m) in summary_cases.items():
        if not check_summaries(f, r, 100, 4, 2, m):
            failures.append(f"check_summaries accepts a corrupted output ({what})")
    return failures
