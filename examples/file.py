"""Port of the reference's examples/file.rs: read a local file
line-by-line, parse each line, aggregate.

Run: python examples/file.py
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from arcon_spark import get_spark
from arcon_spark.streaming import Stream


def main() -> None:
    spark = get_spark("example_file")
    d = tempfile.mkdtemp(prefix="arcon_file_src_")
    with open(os.path.join(d, "numbers.txt"), "w") as f:
        f.write("\n".join(str(i) for i in range(1000)))

    s = Stream.from_file(spark, d, fmt="text").map(parsed=F.col("value").cast("long"))
    parsed = s.to_debug_capture("file_example").run().data
    total = parsed.agg(F.sum("parsed").alias("s")).collect()[0].s
    print(f"sum of parsed lines: {total}")
    spark.stop()


if __name__ == "__main__":
    main()
