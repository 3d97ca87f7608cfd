"""Seeded input generators for the benchmark.

The star schema has the shape and value ranges of the repo's synthetic
testdata (TPC-H-ish), so the KPI endpoints and their DuckDB oracles run
unchanged on it. The payroll batches for
`month_close` follow `Schemas.payrollRaw` and carry the mess cases the ETL
cleanses: padded dept names, garbage numerics, unparseable months, duplicate
rows and late corrections to earlier months.

The same (seed, sizes) always gives byte-identical inputs.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIRST_DAY = dt.date(1995, 1, 1)
LAST_DAY = dt.date(2001, 8, 1)
MONTHS = [f"{y}-{m:02d}" for y in range(1995, 2002) for m in range(1, 13)
          if (y, m) <= (2001, 8)]

SEGMENTS = ["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["large", "hot", "blue", "red", "old", "small", "green", "new"]
PART_NOUN = ["ring", "bolt", "widget", "gear", "rod", "plate", "nut", "pipe"]


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _ts(days):
    base = np.datetime64(FIRST_DAY.isoformat(), "us")
    return pa.array(base + days.astype("timedelta64[D]"), pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def star_schema(out_dir, seed, sf):
    """region, nation, customer, supplier, part, orders, lineitem at scale
    factor `sf` (sf 0.1 = 600k lineitems, the testdata's bench size)."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line = 4 * n_ord

    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        f"{out_dir}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        f"{out_dir}/nation.parquet")
    _write(pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]}),
        f"{out_dir}/customer.parquet")
    _write(pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}),
        f"{out_dir}/supplier.parquet")
    adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), n_part)]
    noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), n_part)]
    _write(pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)}),
        f"{out_dir}/part.parquet")

    span = (LAST_DAY - FIRST_DAY).days + 1
    _write(pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _ts(rng.integers(0, span, n_ord)),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]}),
        f"{out_dir}/orders.parquet")
    _write(pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(rng.integers(1, span + 95, n_line))}),
        f"{out_dir}/lineitem.parquet")


PAYROLL_HEADER = ("emp_id,dept,job_grade,fte,month,gross,bonus,overtime,taxes,"
                  "deductions,net,hours_worked,location,currency,seq")
DEPTS = ["IT", "HR", "Finance", "Sales", "R&D", "Legal", "Ops", "Support",
         "Marketing", "Facilities", "QA", "Security"]
CITIES = ["Minsk", "Vitebsk", "Gomel", "Brest", "Grodno"]


def payroll_batches(out_dir, seed, n_batches, n_emps, first_month=(2020, 1)):
    """One CSV per month close. Batch 0 is the initial load; batch k>0 adds
    month k. Each batch has a row per active employee plus mess: ~3%
    duplicated rows, ~2% late corrections to earlier months, ~1% garbage
    numerics, ~1% unparseable months, ~20% months with a day part, ~10%
    padded dept names, and hires into new departments. Returns the CSV paths
    in close order."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)
    dept_of = rng.integers(0, 6, n_emps)
    grade_of = rng.integers(1, 6, n_emps)
    city_of = rng.integers(0, len(CITIES), n_emps)
    base_of = rng.uniform(600, 4000, n_emps)
    y0, m0 = first_month
    seq = 0
    paths = []

    def month(k):
        y, m = divmod(m0 - 1 + k, 12)
        return f"{y0 + y}-{m + 1:02d}"

    def rows(emps, months, scale):
        nonlocal seq
        n = len(emps)
        seqs = np.arange(seq + 1, seq + n + 1)
        seq += n
        gross = np.round(base_of[emps] * scale * rng.uniform(0.95, 1.05, n), 2)
        bonus = np.round(gross * rng.choice([0, 0, 0.05, 0.1], n), 2)
        overtime = rng.choice([0, 0, 0, 25.5, 60], n)
        taxes = np.round(gross * 0.13, 2)
        deductions = np.round(gross * 0.02, 2)
        net = np.round(gross + bonus + overtime - taxes - deductions, 2)
        fte = rng.choice(["1.0", "1.0", "0.5", "0.75"], n)
        hours = (fte.astype(float) * 160).astype(int).astype(str)
        nums = np.stack([fte] + [np.char.mod("%.2f", v) for v in
                                 (gross, bonus, overtime, taxes, deductions, net)]
                        + [hours], axis=1).astype(object)
        bad = np.flatnonzero(rng.random(n) < 0.01)
        nums[bad, rng.integers(0, 8, len(bad))] = rng.choice(["abc", "n/a", ""], len(bad))
        dept = np.array(DEPTS, dtype=object)[dept_of[emps]]
        pad = np.flatnonzero(rng.random(n) < 0.1)
        dept[pad] = [" " * int(a) + d + " " * int(b) for d, a, b in
                     zip(dept[pad], rng.integers(1, 3, len(pad)), rng.integers(0, 3, len(pad)))]
        mon = np.array(months, dtype=object)
        r = rng.random(n)
        days = rng.integers(1, 28, n)
        for i in np.flatnonzero(r < 0.2):
            mon[i] = (rng.choice(["2020-13", "bad-month", "n/a"]) if r[i] < 0.01
                      else f"{mon[i]}-{days[i]:02d}")
        return [",".join([f"E{e:06d}", dept[i], f"G{grade_of[e]}", nums[i, 0], mon[i],
                          *nums[i, 1:], CITIES[city_of[e]], "USD", str(seqs[i])])
                for i, e in enumerate(emps)]

    for k in range(n_batches):
        active = np.flatnonzero(rng.random(n_emps) < 0.9)
        hires = rng.integers(0, n_emps, max(1, n_emps // 200))
        dept_of[hires] = rng.integers(0, len(DEPTS), len(hires))
        lines = rows(active, [month(k)] * len(active), 1.0)
        for i in rng.integers(0, len(lines), len(lines) // 33):
            seq += 1
            lines.append(lines[i].rsplit(",", 1)[0] + f",{seq}")
        if k > 0:
            late = rng.choice(active, len(active) // 50, replace=False)
            lines += rows(late, [month(int(j)) for j in rng.integers(0, k, len(late))], 1.02)
        order = rng.permutation(len(lines))
        path = f"{out_dir}/payroll_{k:03d}.csv"
        with open(path, "w") as f:
            f.write(PAYROLL_HEADER + "\n")
            f.write("\n".join(lines[i] for i in order) + "\n")
        paths.append(path)
    return paths
