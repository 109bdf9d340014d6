"""Run the flagship reference pipeline end-to-end from the CLI:

    python -m spark_cassandra_collabfiltering_spark [csv_path]

Writes the deterministic ratings fixture when no CSV is given, runs
truncate → populate → ALS train → predict → validate → report
(SURVEY §3.1-3.2), prints the tab report and the number of validation
pairs ALS scored, and exits nonzero if the reference's accuracy
contract (0 <= RMSE < 0.5, CollabFilterTest.java:36-37) is violated.
"""

from __future__ import annotations

import sys
import tempfile


def main(argv: list[str]) -> int:
    from spark_cassandra_collabfiltering_spark import get_spark
    from spark_cassandra_collabfiltering_spark.fixtures import write_ratings_csv
    from spark_cassandra_collabfiltering_spark.pipeline import CollabFilterPipeline
    from spark_cassandra_collabfiltering_spark.sources import ParquetStorage

    with tempfile.TemporaryDirectory(prefix="collabfilter_") as workdir:
        csv_path = argv[0] if argv else write_ratings_csv(f"{workdir}/ratings.csv")
        spark = get_spark(app_name="collabfilter-cli")
        with CollabFilterPipeline(spark, ParquetStorage(f"{workdir}/store")) as p:
            result = p.run(csv_path)
    print(result.report)
    print(f"scored pairs = {result.scored_rows}")
    ok = 0.0 <= result.rmse < 0.5
    print(f"\ncontract 0.0 <= RMSE < 0.5: {'PASS' if ok else 'FAIL'}")
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
