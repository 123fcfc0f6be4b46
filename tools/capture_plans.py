"""Capture explain('formatted') for a list of queries into plans/<tag>/.

Usage: python tools/capture_plans.py <tag> <suffix> <sf_dir> <query> [...]
Writes plans/<tag>/<query>_<suffix>.txt. Run once from the round-start
tree (suffix 'before') and once from HEAD (suffix 'after').
"""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    tag, suffix, sf_dir = sys.argv[1], sys.argv[2], sys.argv[3]
    names = sys.argv[4:]
    from ocrd_anybaseocr_spark.plans import explain_str
    from ocrd_anybaseocr_spark.queries import QUERIES
    from ocrd_anybaseocr_spark.sources.tables import spark_session

    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                           "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    spark = spark_session(cores=8, shuffle_partitions=16)
    for name in names:
        try:
            df = QUERIES[name](spark, sf_dir)
            plan = explain_str(df)
        except Exception as e:  # noqa: BLE001
            plan = f"<explain failed: {type(e).__name__}: {e}>"
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(plan)
        print(name, "done", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
