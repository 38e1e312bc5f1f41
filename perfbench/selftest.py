"""Self-test of the benchmark's output checks: each check accepts a
known-good output and rejects every deliberately corrupted one.

    python3 perfbench/selftest.py

Run from the repository root; needs no Spark session.  Exits 0 when
every case behaves as expected.
"""

from __future__ import annotations

import csv
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))


def _medallion_cases(tmp: str) -> list[tuple[str, bool, list[str]]]:
    import pyarrow.parquet as pq

    import checks
    import gen

    pages = gen.power_pages(5, 180, 60, 2)
    oracle = checks.MedallionOracle(os.path.join(tmp, "bronze"))
    os.makedirs(oracle.bronze_dir)
    for page in pages:
        oracle.add_page(page)
    cols = oracle.gold_columns()
    gold_dir = os.path.join(tmp, "gold")
    csv_dir = os.path.join(tmp, "csv")
    good_gold = os.path.join(tmp, "good_gold.parquet")
    oracle.con.execute(f"COPY (SELECT * FROM power_system_5min_avg) "
                       f"TO '{good_gold}' (FORMAT PARQUET)")
    rows = oracle.gold_rows()
    idx = [cols.index(c) for c in checks.EXPORT_HEADER]

    def fmt(v):
        if v is None:
            return ""
        if isinstance(v, bool):
            return str(v).lower()
        if hasattr(v, "isoformat"):
            return v.isoformat() + ".000Z"
        return repr(v)

    good_csv = [[fmt(r[i]) for i in idx] for r in rows]

    def write(table, csv_rows, header=checks.EXPORT_HEADER):
        for d in (gold_dir, csv_dir):
            shutil.rmtree(d, ignore_errors=True)
            os.makedirs(d)
        pq.write_table(table, os.path.join(gold_dir, "part-0.parquet"))
        with open(os.path.join(csv_dir, "part-0.csv"), "w",
                  newline="") as fh:
            w = csv.writer(fh)
            w.writerow(header)
            w.writerows(csv_rows)

    def run():
        return checks.check_medallion(os.path.join(tmp, "wh"), csv_dir,
                                      oracle)[0]

    # the check reads <warehouse>/gold/power_system_5min_avg
    os.makedirs(os.path.join(tmp, "wh", "gold"))
    os.symlink(gold_dir, os.path.join(tmp, "wh", "gold",
                                      "power_system_5min_avg"))
    table = pq.read_table(good_gold)
    cases = []

    write(table, good_csv)
    cases.append(("medallion: correct output", False, run()))

    col = table.column("avg_co2_emission").to_pylist()
    col[7] = col[7] * (1 + 1e-6)
    bad = table.set_column(table.schema.get_field_index("avg_co2_emission"),
                           "avg_co2_emission", [col])
    write(bad, good_csv)
    cases.append(("medallion: one gold value off by 1e-6", True, run()))

    write(table.slice(1), good_csv)
    cases.append(("medallion: one gold row missing", True, run()))

    swapped = list(good_csv)
    swapped[3], swapped[4] = swapped[4], swapped[3]
    write(table, swapped)
    cases.append(("medallion: csv rows out of time order", True, run()))

    wrong = [list(r) for r in good_csv]
    wrong[5][1] = repr(float(wrong[5][1]) + 0.01)
    write(table, wrong)
    cases.append(("medallion: csv value changed", True, run()))

    write(table, good_csv, header=checks.EXPORT_HEADER[::-1])
    cases.append(("medallion: csv header changed", True, run()))

    write(table, good_csv[:-1])
    cases.append(("medallion: csv row missing", True, run()))
    oracle.close()
    return cases


def _curation_cases() -> list[tuple[str, bool, list[str]]]:
    import checks
    import gen

    corpus = gen.documents(5, 300)
    # a perfect result: every planted group is one cluster, labelled by
    # its lowest id, which is also its representative
    cluster = {d: d for d in corpus.doc_id}
    for members in checks.planted_groups(corpus).values():
        for d in members:
            cluster[d] = min(members)
    reps = [(d, cluster[d], d == cluster[d]) for d in corpus.doc_id]
    kept = [(d,) for d, _, r in reps if r]

    def run(k, r):
        return checks.check_curation(corpus, k, r)[0]

    cases = [("curation: correct output", False, run(kept, reps))]
    a_rep = next(i for i, (d, c, r) in enumerate(reps) if r and any(
        c2 == c and d2 != d for d2, c2, _ in reps))
    two = list(reps)
    mate = next(i for i, (d, c, r) in enumerate(reps)
                if c == reps[a_rep][1] and not r)
    two[mate] = (two[mate][0], two[mate][1], True)
    cases.append(("curation: two representatives in a cluster", True,
                  run(kept, two)))
    cases.append(("curation: a document unlabelled", True,
                  run(kept, reps[1:])))
    cases.append(("curation: a document labelled twice", True,
                  run(kept, reps + [reps[0]])))
    group = next(m for (kind, _), m in checks.planted_groups(corpus).items()
                 if kind == "x")
    split = [(d, d, True) if d in group else (d, c, r)
             for d, c, r in reps]
    cases.append(("curation: exact duplicates kept as two clusters", True,
                  run(kept, split)))
    cases.append(("curation: exact duplicates both in the keep-set", True,
                  run(kept + [(d,) for d in group if (d,) not in kept],
                      reps)))
    return cases


def _source_cases() -> list[tuple[str, bool, list[str]]]:
    import gen
    from workloads import PageSource

    src = PageSource(gen.power_pages(5, 120, 60, 2))
    src.fetch(src.cursor)
    try:
        src.fetch("2025-10-01T00:00")
        problems = []
    except RuntimeError as exc:
        problems = [str(exc)]
    return [("page source: a cursor that repeats a page", True, problems)]


def main() -> int:
    sys.path[:0] = [HERE, os.getcwd()]
    work = os.path.join(os.getcwd(), ".perfbench_work")
    os.makedirs(work, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="selftest-", dir=work)
    try:
        cases = (_medallion_cases(tmp) + _curation_cases()
                 + _source_cases())
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    ok = True
    for name, want_reject, problems in cases:
        good = bool(problems) == want_reject
        ok &= good
        verdict = "rejected" if problems else "accepted"
        print(f"{'ok  ' if good else 'FAIL'} {name}: {verdict}"
              + (f" ({problems[0][:100]})" if problems else ""))
    print("all checks behave as expected" if ok else "SELF-TEST FAILED")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
