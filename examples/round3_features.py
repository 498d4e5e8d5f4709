"""Round-3 features tour: CCNet-style paragraph-level dedup, runnable
without network or external data.

    python examples/round3_features.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from incident_pii_redactor_spark.plans import build_session  # noqa: E402


def main() -> None:
    spark = build_session("round3-demo", master="local[4]",
                          shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    boiler = "subscribe to our newsletter for daily updates"
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox story begins here\n" + boiler),
            (2, boiler),  # fully duplicated page
            (3, "a completely different article body\n" + boiler),
        ],
        "doc_id long, text string",
    )

    print("== paragraph-level dedup (CCNet) ==")
    from incident_pii_redactor_spark.functions.dedup import paragraph_dedup

    paragraph_dedup(docs).orderBy("doc_id").show(truncate=60)

    spark.stop()


if __name__ == "__main__":
    main()
