"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of the seed: the same seed writes the
same parquet bytes and the same operation lists. The program under test
only ever sees these files.

- ``write_star``      TPC-H-shaped star + events/documents/embeddings, the
                      tables ``SparkEntry.queries`` reads (batch_suite).
- ``write_cur``       a CUR 2.0 export partitioned ``BILLING_PERIOD=YYYY-MM``
                      whose line items fan out over every KPI ``CASE`` branch
                      (finops_api).
- ``finops_ops``      the FinOps warm-up and measured requests (finops_api).
- ``write_index_corpus`` the replicated documents/embeddings corpus of the
                      serving indexes plus per-pass probe and append batches
                      (batch_suite).
- ``BATCH_PASS``      one pass's operations in their fixed order (batch_suite).
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("batch part spark line column order small sort fast value scan a "
         "hash slow group agg filter query big key window row table stream "
         "merge data vector join customer the of to and in").split()
STOPWORDS = ("the", "a", "of", "to", "and", "in")
LANGS = ["en", "en", "en", "zh", "de", "fr", "es"]


def rng(seed, salt):
    return np.random.default_rng([int(seed), int(salt)])


def write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def _ts(days_from_epoch):
    base = np.datetime64("1970-01-01T00:00:00", "us")
    return base + (np.asarray(days_from_epoch) * 86_400_000_000).astype("timedelta64[us]")


def _day(y, m, d):
    return (dt.date(y, m, d) - dt.date(1970, 1, 1)).days


# --------------------------------------------------------------------------
# documents / embeddings with planted duplicate structure


def documents(r, n):
    """``n`` docs: ~10% exact copies and ~15% near copies of earlier docs,
    the rest novel word sequences. Returns (ids, texts, kinds) where kind is
    'novel' | 'exact' | 'near'."""
    texts, kinds = [], []
    words = np.array(WORDS)
    for i in range(n):
        u = r.random()
        if i > 10 and u < 0.10:
            texts.append(texts[int(r.integers(0, i))])
            kinds.append("exact")
        elif i > 10 and u < 0.25:
            src = texts[int(r.integers(0, i))].split(" ")
            for _ in range(max(1, len(src) // 12)):
                src[int(r.integers(0, len(src)))] = str(words[int(r.integers(0, len(words)))])
            texts.append(" ".join(src))
            kinds.append("near")
        else:
            length = int(r.integers(8, 80))
            texts.append(" ".join(words[r.integers(0, len(words), length)]))
            kinds.append("novel")
    return np.arange(n, dtype=np.int64), texts, kinds


def documents_table(r, ids, texts):
    n = len(texts)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[int(x)] for x in r.integers(0, len(LANGS), n)], pa.string()),
        "source": pa.array([f"src{int(x) % 20}" for x in ids], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(r, n, dims=64, labels=10):
    """Unit vectors around ``labels`` centroids; ~5% exact copies and ~10%
    near copies (tiny perturbation) of earlier rows."""
    cents = r.normal(size=(labels, dims))
    lab = r.integers(0, labels, n).astype(np.int32)
    vecs = cents[lab] + r.normal(scale=1.2, size=(n, dims))
    kinds = np.array(["novel"] * n, dtype=object)
    for i in range(10, n):
        u = r.random()
        if u < 0.05:
            j = int(r.integers(0, i))
            vecs[i], lab[i], kinds[i] = vecs[j], lab[j], "exact"
        elif u < 0.15:
            j = int(r.integers(0, i))
            vecs[i] = vecs[j] + r.normal(scale=0.01, size=dims)
            lab[i], kinds[i] = lab[j], "near"
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return vecs, lab, kinds


def embeddings_table(ids, vecs, lab):
    return pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(lab, pa.int32()),
    })


# --------------------------------------------------------------------------
# batch_suite: the star schema


def write_star(out, seed, sf, n_docs, n_vecs):
    """TPC-H-shaped tables at scale ``sf`` (lineitem = 6M x sf rows) with
    the column domains the operator suite filters on."""
    r = rng(seed, 1)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)

    write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                    "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
          f"{out}/region.parquet")
    write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                    "n_name": [f"NATION_{i}" for i in range(25)],
                    "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
          f"{out}/nation.parquet")
    segs = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"])
    write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[r.integers(0, 5, n_cust)]}), f"{out}/customer.parquet")
    write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n_supp), 2)}), f"{out}/supplier.parquet")
    colors = np.array(["small", "red", "blue", "green", "large", "steel", "brass"])
    things = np.array(["ring", "widget", "bolt", "gear", "panel", "valve"])
    ptypes = np.array(["ECONOMY", "SMALL", "STANDARD", "PROMO", "LARGE", "MEDIUM"])
    write(pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(colors[r.integers(0, 7, n_part)],
                                              things[r.integers(0, 6, n_part)])],
        "p_brand": [f"Brand#{int(x)}" for x in r.integers(1, 26, n_part)],
        "p_type": ptypes[r.integers(0, 6, n_part)],
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(n_part) * 0.1, 2)}), f"{out}/part.parquet")

    d0, d1 = _day(1995, 1, 1), _day(2001, 8, 1)
    write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["P", "O", "F"])[r.integers(0, 3, n_ord)],
        "o_totalprice": np.round(r.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": pa.array(_ts(r.integers(d0, d1 + 1, n_ord)), pa.timestamp("us")),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[r.integers(0, 5, n_ord)]}),
          f"{out}/orders.parquet")
    qty = r.integers(1, 51, n_line).astype(np.float64)
    flags = r.integers(0, 6, n_line)
    write(pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900, 2100, n_line), 2),
        "l_discount": np.round(r.integers(0, 11, n_line) / 100.0, 2),
        "l_tax": np.round(r.integers(0, 9, n_line) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R", "A", "N", "R"])[flags],
        "l_linestatus": np.array(["O", "F", "F", "F", "O", "O"])[flags],
        "l_shipdate": pa.array(_ts(r.integers(d0 + 1, _day(2001, 11, 4) + 1, n_line)),
                               pa.timestamp("us"))}), f"{out}/lineitem.parquet")

    base = np.datetime64("2024-01-01T00:00:00", "us")
    ts = np.sort(base + r.integers(0, 30 * 86_400_000_000, n_ev).astype("timedelta64[us]"))
    write(pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, 150, n_ev), pa.int64()),
        "event_type": np.array(["click", "signup", "error", "view", "purchase"])[r.integers(0, 5, n_ev)],
        "value": np.round(r.uniform(0.01, 490, n_ev), 2),
        "props": [f'{{"k": {int(k)}}}' for k in r.integers(0, 100, n_ev)]}),
          f"{out}/events.parquet")

    ids, texts, _ = documents(rng(seed, 2), n_docs)
    write(documents_table(rng(seed, 3), ids, texts), f"{out}/documents.parquet")
    vecs, lab, _ = embeddings(rng(seed, 4), n_vecs)
    write(embeddings_table(np.arange(n_vecs, dtype=np.int64), vecs, lab),
          f"{out}/embeddings.parquet")


# One batch_suite pass, in order: the heaviest kernels of each operator
# family (shuffles, joins, UDF kernels, cached derivations), cheap relational
# queries that carry the fixed per-query overhead, and the serving-index
# operations. The order is fixed, not drawn from the seed: on a freshly
# started JVM the order decides which operation pays for JIT and codegen
# warm-up, and a seeded order doubled the run-to-run spread.
BATCH_PASS = [
    "q01_agg", "index:dedup", "q06_multi_join", "q73_winnow_match", "q54_tfidf_topk",
    "q69_containment_pairs", "q48_incremental_dedup", "q55_seq_packing", "index:append",
    "index:knn", "q96_knn_pq", "index:vector", "index:stats", "q101_bpe_vocab", "q36_cube",
]


# --------------------------------------------------------------------------
# finops_api: the CUR 2.0 export

# (line_item_type, product_code, servicecode, operation, usage_type,
#  instance_type, processor, engine, weight). Every amortized-cost branch,
# purchase option, commit-service group and processor class has a family.
CUR_FAMILIES = [
    ("Usage", "AmazonEC2", "AmazonEC2", "RunInstances", "BoxUsage:m5.large", "m5.large", "Intel Xeon", "", 20),
    ("Usage", "AmazonEC2", "AmazonEC2", "RunInstances", "BoxUsage:m6g.large", "m6g.large", "AWS Graviton2", "", 6),
    ("Usage", "AmazonEC2", "AmazonEC2", "RunInstances", "BoxUsage:c5a.xlarge", "c5a.xlarge", "AMD EPYC", "", 5),
    ("Usage", "AmazonEC2", "AmazonEC2", "RunInstances", "BoxUsage:m4.large", "m4.large", "Intel Xeon", "", 3),
    ("Usage", "AmazonEC2", "AmazonEC2", "RunInstances:SV001", "SpotUsage:m5.large", "m5.large", "Intel Xeon", "", 4),
    ("SavingsPlanCoveredUsage", "AmazonEC2", "AmazonEC2", "RunInstances", "BoxUsage:r5.large", "r5.large", "Intel Xeon", "", 6),
    ("SavingsPlanRecurringFee", "ComputeSavingsPlans", "ComputeSavingsPlans", "", "", "", "", "", 1),
    ("SavingsPlanNegation", "AmazonEC2", "AmazonEC2", "RunInstances", "BoxUsage:r5.large", "r5.large", "Intel Xeon", "", 2),
    ("SavingsPlanUpfrontFee", "ComputeSavingsPlans", "ComputeSavingsPlans", "", "", "", "", "", 1),
    ("DiscountedUsage", "AmazonEC2", "AmazonEC2", "RunInstances", "BoxUsage:c5.large", "c5.large", "Intel Xeon", "", 5),
    ("RIFee", "AmazonEC2", "AmazonEC2", "RunInstances", "", "c5.large", "Intel Xeon", "", 1),
    ("Fee", "AmazonEC2", "AmazonEC2", "RunInstances", "", "", "", "", 1),
    ("Usage", "AmazonEC2", "AmazonEC2", "CreateVolume-Gp2", "EBS:VolumeUsage.gp2", "", "", "", 4),
    ("Usage", "AmazonEC2", "AmazonEC2", "CreateVolume-Gp3", "EBS:VolumeUsage.gp3", "", "", "", 3),
    ("Usage", "AmazonEC2", "AmazonEC2", "CreateSnapshot", "EBS:SnapshotUsage", "", "", "", 3),
    ("Usage", "AWSLambda", "AWSLambda", "Invoke", "Lambda-GB-Second", "", "", "", 3),
    ("Usage", "AWSLambda", "AWSLambda", "Invoke", "Lambda-GB-Second-ARM", "", "", "", 2),
    ("Usage", "AmazonECS", "AmazonECS", "FargateTask", "USE1-Fargate-ARM-vCPU-Hours:perCPU", "", "", "", 2),
    ("Usage", "AmazonDynamoDB", "AmazonDynamoDB", "CommittedThroughput", "ReadCapacityUnit-Hrs", "", "", "", 2),
    ("Usage", "AmazonDynamoDB", "AmazonDynamoDB", "PayPerRequestThroughput", "WriteCapacityUnit-Hrs", "", "", "", 2),
    ("Usage", "AmazonRDS", "AmazonRDS", "CreateDBInstance", "InstanceUsage:db.r6g.large", "db.r6g.large", "AWS Graviton2", "PostgreSQL", 3),
    ("Usage", "AmazonRDS", "AmazonRDS", "CreateDBInstance", "InstanceUsage:db.r5.large", "db.r5.large", "Intel Xeon", "MySQL", 3),
    ("Usage", "AmazonElastiCache", "AmazonElastiCache", "CreateCacheCluster", "NodeUsage:cache.r6g.large", "cache.r6g.large", "AWS Graviton2", "", 2),
    ("Usage", "AmazonES", "AmazonES", "ESDomain", "ESInstance:m5.large", "m5.large.search", "Intel Xeon", "", 2),
    ("Usage", "AmazonRedshift", "AmazonRedshift", "RunComputeNode", "Node:ra3.xlplus", "ra3.xlplus", "Intel Xeon", "", 2),
    ("Usage", "AmazonSageMaker", "AmazonSageMaker", "RunInstance", "ml.m5.large-Hosting", "ml.m5.large", "Intel Xeon", "", 2),
    ("Usage", "AmazonS3", "AmazonS3", "StandardStorage", "TimedStorage-ByteHrs", "", "", "", 5),
    ("Usage", "AmazonVPC", "AmazonVPC", "NatGateway", "NatGateway-Hours", "", "", "", 3),
    ("Usage", "AmazonEC2", "AWSDataTransfer", "RunInstances", "USE1-DataTransfer-Out-Bytes", "", "", "", 3),
    ("Credit", "AmazonEC2", "AmazonEC2", "", "", "", "", "", 1),
    ("Tax", "AmazonEC2", "AmazonEC2", "", "", "", "", "", 1),
]
LINE_ITEM_TYPES = sorted({f[0] for f in CUR_FAMILIES})
COMMIT_GROUPS = ["Compute", "DynamoDB", "ElastiCache", "Machine Learning", "OpenSearch",
                 "Other", "RDS", "Redshift"]
ACCOUNTS = [f"{i:012d}" for i in (222222222222, 333333333333, 444444444444,
                                  555555555555, 666666666666, 777777777777)]
REGIONS = ["us-east-1", "us-west-2", "eu-west-1", "ap-southeast-1", "eu-central-1"]
TAGS = ['{"Environment":"prod","Team":"platform","Project":"alpha"}',
        '{"Environment":"dev","Team":"data"}', '{"Environment":"staging"}',
        '{"Team":"ml","Project":"beta"}', "{}", ""]
PERIODS = [f"{y:04d}-{m:02d}" for y in range(1995, 2002) for m in range(1, 13)
           if (y, m) <= (2001, 11)]
REFERENCE_DATE = "2001-11-20"


def _dict(codes, values):
    """Dictionary-encoded string column: ``values[codes]``."""
    return pa.DictionaryArray.from_arrays(pa.array(codes, pa.int32()),
                                          pa.array(values, pa.string()))


def write_cur(out, seed, rows):
    """``rows`` CUR 2.0 line items over the 83 monthly partitions
    1995-01..2001-11, fanned out over CUR_FAMILIES by a seeded draw."""
    r = rng(seed, 6)
    nf = len(CUR_FAMILIES)
    weights = np.array([f[-1] for f in CUR_FAMILIES], dtype=float)
    fam = r.choice(nf, size=rows, p=weights / weights.sum())
    # the first nf rows pin one line item per family into the newest period
    # so every branch also has rows inside the relative windows
    fam[:nf] = np.arange(nf)
    period = r.integers(0, len(PERIODS), rows)
    period[:nf] = len(PERIODS) - 1
    order = np.argsort(period, kind="stable")
    fam, period = fam[order], period[order]
    day = r.integers(1, 29, rows)
    hour = r.integers(0, 24, rows)
    acct = r.integers(0, len(ACCOUNTS), rows)
    region = r.integers(0, len(REGIONS), rows)
    growth = 1.0 + period / len(PERIODS)
    usage = np.round(r.uniform(1, 48, rows), 4)
    unblended = np.round(usage * r.uniform(0.01, 0.5, rows) * growth, 6)
    od = np.round(unblended * r.uniform(1.0, 1.6, rows), 6)

    def fcol(i):
        return [f[i] for f in CUR_FAMILIES]
    types = np.array(fcol(0))
    t = types[fam]
    unblended = np.where(np.isin(t, ["Credit", "SavingsPlanNegation"]), -np.abs(unblended), unblended)
    unblended = np.where(t == "DiscountedUsage", 0.0, unblended)
    sp_f = np.isin(types, ["SavingsPlanCoveredUsage", "SavingsPlanRecurringFee",
                           "SavingsPlanNegation", "SavingsPlanUpfrontFee"]).astype(int)
    ri_f = np.isin(types, ["DiscountedUsage", "RIFee", "Fee"]).astype(int)
    z = np.zeros(rows)
    ymd = [(int(p[:4]), int(p[5:])) for p in PERIODS]
    period_start = np.array([_day(y, m, 1) for y, m in ymd])[period]
    start_ts = (np.datetime64("1970-01-01T00:00:00", "us")
                + ((period_start + day - 1) * 86_400_000_000 + hour * 3_600_000_000)
                .astype("timedelta64[us]"))
    prefixes = ["i-", "vol-", "fn-", "db-", "bucket/", "nat-", "table/", "cl-"]
    res_values = [f"{p}{a}{x}" for p in prefixes for a in range(len(ACCOUNTS))
                  for x in range(400)] + [""]
    res_code = ((fam % len(prefixes)) * len(ACCOUNTS) + acct) * 400 + r.integers(0, 400, rows)
    res_code = np.where(np.array(fcol(2))[fam] == "AWSDataTransfer", len(res_values) - 1, res_code)
    procs = fcol(6)
    keys = ["region", "operating_system", "tenancy", "physical_processor",
            "database_engine", "deployment_option", "license_model", "cache_engine"]
    # one product map per (region, family), gathered per row
    combos = [(g, f) for g in range(len(REGIONS)) for f in range(nf)]
    maps = pa.array([[(k, v) for k, v in zip(keys, (
        REGIONS[g], "Linux" if procs[f] else "", "Shared", procs[f], CUR_FAMILIES[f][7],
        "Single-AZ", "No license required", ""))] for g, f in combos],
        pa.map_(pa.string(), pa.string()))
    product = maps.take(pa.array(region * nf + fam))
    is_t = lambda name: t == name  # noqa: E731
    table = pa.table({
        "bill_payer_account_id": _dict(np.zeros(rows, int), ["111111111111"]),
        "line_item_usage_account_id": _dict(acct, ACCOUNTS),
        "bill_billing_period_start_date": pa.array(_ts(period_start), pa.timestamp("us", tz="UTC")),
        "line_item_usage_start_date": pa.array(start_ts, pa.timestamp("us", tz="UTC")),
        "line_item_line_item_type": _dict(fam, fcol(0)),
        "line_item_product_code": _dict(fam, fcol(1)),
        "product_servicecode": _dict(fam, fcol(2)),
        "line_item_operation": _dict(fam, fcol(3)),
        "line_item_usage_type": _dict(fam, fcol(4)),
        "line_item_resource_id": _dict(res_code, res_values),
        "line_item_usage_amount": usage,
        "line_item_unblended_cost": unblended,
        "line_item_blended_cost": unblended,
        "pricing_public_on_demand_cost": od,
        "pricing_term": _dict(ri_f[fam], ["OnDemand", "Reserved"]),
        "reservation_reservation_a_r_n": _dict(ri_f[fam], [
            "", "arn:aws:ec2:us-east-1:111111111111:reserved-instances/ri-1"]),
        "reservation_effective_cost": np.where(is_t("DiscountedUsage"), np.round(od * 0.6, 6), z),
        "reservation_unused_amortized_upfront_fee_for_billing_period":
            np.where(is_t("RIFee"), np.round(usage * 0.02, 6), z),
        "reservation_unused_recurring_fee": np.where(is_t("RIFee"), np.round(usage * 0.01, 6), z),
        "savings_plan_savings_plan_a_r_n": _dict(sp_f[fam], [
            "", "arn:aws:savingsplans::111111111111:savingsplan/sp-1"]),
        "savings_plan_savings_plan_effective_cost":
            np.where(is_t("SavingsPlanCoveredUsage"), np.round(od * 0.7, 6), z),
        "savings_plan_total_commitment_to_date":
            np.where(is_t("SavingsPlanRecurringFee"), np.round(usage * 0.5, 6), z),
        "savings_plan_used_commitment":
            np.where(is_t("SavingsPlanRecurringFee"), np.round(usage * 0.4, 6), z),
        "savings_plan_offering_type": _dict(sp_f[fam], ["", "ComputeSavingsPlans"]),
        "product": product,
        "product_instance_type": _dict(fam, fcol(5)),
        "product_region": _dict(region, REGIONS),
        "product_region_code": _dict(region, REGIONS),
        "product_operating_system": _dict(fam, ["Linux" if p else "" for p in procs]),
        "product_tenancy": _dict(np.zeros(rows, int), ["Shared"]),
        "product_database_engine": _dict(fam, fcol(7)),
        "resource_tags": _dict(r.integers(0, len(TAGS), rows), TAGS),
    })
    os.makedirs(out, exist_ok=True)
    bounds = np.searchsorted(period, np.arange(len(PERIODS) + 1))
    for i, p in enumerate(PERIODS):
        lo, hi = int(bounds[i]), int(bounds[i + 1])
        if hi > lo:
            write(table.slice(lo, hi - lo), f"{out}/BILLING_PERIOD={p}/part-0.parquet")
    return len(PERIODS)


def cur_coverage(con, cur_glob):
    """Branch-coverage check: the line-item types and commit-service groups
    with no rows (empty lists mean every branch is exercised)."""
    have = {r[0] for r in con.execute(
        f"SELECT DISTINCT line_item_line_item_type FROM read_parquet('{cur_glob}')").fetchall()}
    groups = {r[0] for r in con.execute(f"""
        SELECT DISTINCT CASE
          WHEN line_item_product_code IN ('AmazonSageMaker','MachineLearningSavingsPlans') THEN 'Machine Learning'
          WHEN line_item_product_code IN ('AmazonEC2','AmazonECS','AmazonEKS','AWSLambda','ComputeSavingsPlans') THEN 'Compute'
          WHEN line_item_product_code = 'AmazonElastiCache' THEN 'ElastiCache'
          WHEN line_item_product_code = 'AmazonES' THEN 'OpenSearch'
          WHEN line_item_product_code = 'AmazonRDS' THEN 'RDS'
          WHEN line_item_product_code = 'AmazonRedshift' THEN 'Redshift'
          WHEN line_item_product_code = 'AmazonDynamoDB' AND line_item_operation = 'CommittedThroughput' THEN 'DynamoDB'
          ELSE 'Other' END
        FROM read_parquet('{cur_glob}')""").fetchall()}
    return ([x for x in LINE_ITEM_TYPES if x not in have],
            [g for g in COMMIT_GROUPS if g not in groups])


# One block of the FinOps mix, in order. No traffic trace of real users
# exists to weight the routes by, so the mix is uniform: each dashboard
# route the workload names (kpi/*, the five spend/* routes,
# optimization/idle-resources, allocation/tagging-compliance,
# discounts/usage-forecasting, ai/anomaly-detection) once, and ad-hoc SQL
# ("sql") for 9 of the 20 requests: the largest share that keeps dashboard
# routes the majority. The ad-hoc requests cycle through the three SQL
# shapes of ``adhoc_sql``, so every block has three of each.
FINOPS_BLOCK = [
    "kpi/dashboard-data", "sql", "spend/invoice/summary", "sql", "kpi/summary",
    "spend/services/top", "sql", "optimization/idle-resources", "spend/regions/top", "sql",
    "allocation/tagging-compliance", "spend/trend", "sql", "discounts/usage-forecasting",
    "sql", "spend/breakdown", "sql", "ai/anomaly-detection", "sql", "sql",
]
FINOPS_PREFIX = "/api/v1/finops/"
ADHOC_SHAPES = 3


def adhoc_sql(r, shape):
    """One ad-hoc SQL request of the given shape whose date range, service
    and account literals are drawn from ``r``."""
    a, b = sorted(r.choice(len(PERIODS), 2, replace=False))
    lo, hi = PERIODS[a], PERIODS[b]
    svc = CUR_FAMILIES[int(r.integers(0, len(CUR_FAMILIES)))][2]
    acct = ACCOUNTS[int(r.integers(0, len(ACCOUNTS)))]
    cents = int(r.integers(0, 5000))
    if shape == 0:
        sql = (f"SELECT line_item_usage_account_id AS account, "
               f"ROUND(SUM(line_item_unblended_cost), 6) AS cost, COUNT(*) AS n "
               f"FROM CUR WHERE billing_period BETWEEN '{lo}' AND '{hi}' "
               f"AND product_servicecode = '{svc}' GROUP BY line_item_usage_account_id "
               f"ORDER BY account")
    elif shape == 1:
        sql = (f"SELECT billing_period AS period, ROUND(SUM(line_item_unblended_cost), 6) AS cost "
               f"FROM CUR WHERE line_item_usage_account_id = '{acct}' "
               f"AND billing_period BETWEEN '{lo}' AND '{hi}' "
               f"AND line_item_unblended_cost > {cents / 100000:.5f} "
               f"GROUP BY billing_period ORDER BY period")
    else:
        sql = (f"SELECT product_region AS region, COUNT(DISTINCT line_item_resource_id) AS resources, "
               f"ROUND(SUM(pricing_public_on_demand_cost), 6) AS od "
               f"FROM CUR WHERE product_servicecode = '{svc}' "
               f"AND line_item_usage_account_id = '{acct}' "
               f"AND billing_period BETWEEN '{lo}' AND '{hi}' GROUP BY product_region ORDER BY region")
    return sql


def finops_ops(seed, blocks):
    """(warm-up, measured) FinOps requests. The warm-up has one request per
    route and per ad-hoc SQL shape; the measured list is ``blocks`` copies
    of FINOPS_BLOCK. Ad-hoc literals come from ``seed`` and no SQL text
    occurs twice in the two lists together, so no cache can answer an
    ad-hoc request."""
    r = rng(seed, 7)
    seen = set()
    ops = []

    def op(route, shape):
        op_id = len(ops)
        if route != "sql":
            return {"id": op_id, "cls": "route", "method": "GET",
                    "path": FINOPS_PREFIX + route, "body": ""}
        sql = adhoc_sql(r, shape)
        while sql in seen:
            sql = adhoc_sql(r, shape)
        seen.add(sql)
        return {"id": op_id, "cls": "adhoc", "method": "POST", "path": FINOPS_PREFIX + "sql/query",
                "body": json.dumps({"query": sql, "max_rows": 1000}), "sql": sql}

    routes = [p for p in FINOPS_BLOCK if p != "sql"]
    for route, shape in [(p, 0) for p in routes] + [("sql", k) for k in range(ADHOC_SHAPES)]:
        ops.append(op(route, shape))
    warm = len(ops)
    for _ in range(blocks):
        k = 0
        for route in FINOPS_BLOCK:
            ops.append(op(route, k % ADHOC_SHAPES))
            k += route == "sql"
    return ops[:warm], ops[warm:]


# --------------------------------------------------------------------------
# batch_suite: the serving-index corpus and its per-pass operations

INDEX_REPS = 4
REP_OFF = 1_000_000


def _salt(text, k):
    if k == 0:
        return text
    return " ".join(w if w in STOPWORDS else f"{w}_{k}" for w in text.split(" "))


def write_index_corpus(out, seed, n_docs, n_vecs, passes):
    """The index corpus (the documents and embeddings replicated
    INDEX_REPS times with ServingScaleProbe's duplicate-preserving schemes:
    stopword-preserving word salting for text, circular shifts for
    vectors) and, per pass, a text probe, a vector probe, knn self-queries
    and an append epoch. Probe batches blend exact copies (expect a
    duplicate), near copies (no expectation) and novel items (expect new)."""
    r = rng(seed, 8)
    ids, texts, _ = documents(rng(seed, 9), n_docs)
    vecs, _, vkinds = embeddings(rng(seed, 10), n_vecs)
    all_texts = [_salt(t, k) for k in range(INDEX_REPS) for t in texts]
    doc_ids = np.concatenate([ids + k * REP_OFF for k in range(INDEX_REPS)])
    write(pa.table({"doc_id": pa.array(doc_ids, pa.int64()), "text": all_texts}),
          f"{out}/index_docs.parquet")
    cvecs = np.concatenate([np.roll(vecs, -k, axis=1) for k in range(INDEX_REPS)])
    vec_ids = np.concatenate([np.arange(n_vecs, dtype=np.int64) + k * REP_OFF
                              for k in range(INDEX_REPS)])
    write(pa.table({"vec_id": pa.array(vec_ids, pa.int64()),
                    "embedding": pa.array(list(cvecs), pa.list_(pa.float32()))}),
          f"{out}/index_vecs.parquet")

    words = np.array(WORDS)
    next_id = [9_000_000_000]

    def fresh_id():
        next_id[0] += 1
        return next_id[0]

    def novel_text(tag):
        return " ".join(f"{w}_{tag}" for w in words[r.integers(0, len(words), int(r.integers(12, 60)))])

    def novel_vec():
        v = r.normal(size=vecs.shape[1])
        return (v / np.linalg.norm(v)).astype(np.float32).tolist()

    def blend(n, exact, near, novel):
        out = []
        for _ in range(n):
            v = r.random()
            out.append(exact() if v < 0.4 else near() if v < 0.7 else novel())
        return out

    # knn self-queries only on vectors without an exact twin
    twin_free = [i for i in range(len(vec_ids)) if vkinds[i % n_vecs] == "novel"]
    ops = []
    for p in range(passes):
        def exact_doc():
            return {"doc_id": fresh_id(), "text": all_texts[int(r.integers(0, len(all_texts)))],
                    "expect": "dup"}

        def near_doc():
            src = all_texts[int(r.integers(0, len(all_texts)))].split(" ")
            src[int(r.integers(0, len(src)))] = str(words[int(r.integers(0, len(words)))])
            return {"doc_id": fresh_id(), "text": " ".join(src), "expect": "any"}

        def exact_vec():
            return {"vec_id": fresh_id(), "embedding": cvecs[int(r.integers(0, len(cvecs)))].tolist(),
                    "expect": "dup"}

        def near_vec():
            e = cvecs[int(r.integers(0, len(cvecs)))] + r.normal(scale=0.002, size=cvecs.shape[1])
            return {"vec_id": fresh_id(), "embedding": (e / np.linalg.norm(e)).astype(np.float32).tolist(),
                    "expect": "any"}

        ops.append({"pass": p, "kind": "dedup", "docs": blend(
            16, exact_doc, near_doc,
            lambda: {"doc_id": fresh_id(), "text": novel_text(f"p{p}"), "expect": "new"})})
        ops.append({"pass": p, "kind": "vector", "vectors": blend(
            8, exact_vec, near_vec,
            lambda: {"vec_id": fresh_id(), "embedding": novel_vec(), "expect": "new"})})
        ops.append({"pass": p, "kind": "knn", "queries": [
            {"vec_id": int(vec_ids[j]), "embedding": cvecs[j].tolist()}
            for j in (twin_free[int(r.integers(0, len(twin_free)))] for _ in range(4))]})
        ops.append({"pass": p, "kind": "append",
                    "docs": [{"doc_id": fresh_id(), "text": novel_text(f"w{p}")} for _ in range(12)],
                    "vectors": [{"vec_id": fresh_id(), "embedding": novel_vec()} for _ in range(6)]})
        ops.append({"pass": p, "kind": "stats"})
    return ops
