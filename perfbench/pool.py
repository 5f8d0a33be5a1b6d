"""Generate the benchmark's row pool with the repo's own generators.

Run once per checkout (``run.py`` does it when ``READY`` is missing):

    python3 perfbench/pool.py <cache-dir>

Writes ``<cache>/pool-v1/slim`` (``write_images_slim``) and
``<cache>/pool-v1/bytes`` (``write_images``, the first rows of the same
generator with their encoded pixels) at the fixed pool seed.
"""

from __future__ import annotations

import os
import shutil
import sys

import hostenv
import inputs


def main(cache: str) -> None:
    final = inputs.pool_dir(cache)
    tmp = final + f".tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    from osmnightwatch_spark.sources import images as I

    spark = hostenv.start_spark("perfbench-pool", hostenv.cores())
    try:
        I.write_images_slim(spark, os.path.join(tmp, "slim"), inputs.POOL_ROWS,
                            seed=inputs.POOL_SEED)
        I.write_images(spark, os.path.join(tmp, "bytes"), inputs.POOL_BYTES_ROWS,
                       seed=inputs.POOL_SEED)
    finally:
        hostenv.stop_spark(spark)
    open(os.path.join(tmp, "READY"), "w").close()
    shutil.rmtree(final, ignore_errors=True)
    os.rename(tmp, final)


if __name__ == "__main__":
    hostenv.require_checkout()
    main(sys.argv[1])
