"""Scratch: phase split of the one-SQL ann_recall_eval construction."""
import sys
import time

from pgsync_spark import Catalog, caching, get_spark
from pgsync_spark.functions import similarity as S

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
spark = get_spark("recall-sql-phase")
df = Catalog(spark, SF).df("embeddings")

r = S.ann_recall_eval(df)  # warm
caching.release(r)

for _ in range(2):
    t = {}
    t0 = time.perf_counter()
    df.createOrReplaceTempView("__p_emb")
    t["view_emb"] = time.perf_counter() - t0

    t0 = time.perf_counter()
    exact = spark.sql(
        f"SELECT query_id, neighbor_id FROM {S._bruteforce_sparksql('__p_emb')}"
    ).persist()
    t["exact_sql"] = time.perf_counter() - t0

    t0 = time.perf_counter()
    pq = S._pq_artifacts(df)
    t["pq_artifacts"] = time.perf_counter() - t0

    t0 = time.perf_counter()
    pqt = S._pq_trained_artifacts(df)
    t["pqt_artifacts"] = time.perf_counter() - t0

    t0 = time.perf_counter()
    ranked = spark.sql(S._ivf_ranked_sparksql("__p_emb")).persist()
    t["ranked_sql"] = time.perf_counter() - t0

    t0 = time.perf_counter()
    tranked = S.ivf_assign_trained(df).persist()
    t["tranked"] = time.perf_counter() - t0

    t0 = time.perf_counter()
    qf = S._adc_query_frame(spark, pq[1])
    tqf = S._adc_query_frame(spark, pqt[1])
    for frame, nm in ((exact, "x"), (ranked, "r"), (tranked, "t"),
                      (pq[3], "c"), (pqt[3], "tc"), (qf, "qf"), (tqf, "tqf")):
        frame.createOrReplaceTempView(f"__p_{nm}")
    t["views"] = time.perf_counter() - t0

    t0 = time.perf_counter()
    text = S._recall_eval_sparksql(
        E="__p_emb", X="__p_x", R="__p_r", T="__p_t",
        C="__p_c", TC="__p_tc", QF="__p_qf", TQF="__p_tqf")
    t["gen_text"] = time.perf_counter() - t0

    t0 = time.perf_counter()
    out = spark.sql(text)
    t["spark_sql"] = time.perf_counter() - t0

    print(f"text len {len(text)}")
    print("  ".join(f"{k}={v*1000:.0f}ms" for k, v in t.items()))
    exact.unpersist(); ranked.unpersist(); tranked.unpersist()
    pq[3].unpersist(); pqt[3].unpersist()
