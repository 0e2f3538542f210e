"""spark-submit primary script for the extraction job.

spark-submit takes a script path (not -m), so this thin driver is the
submitted file; the package itself ships via --py-files:

    python tools/make_pyfiles.py dist/ocr_service_spark.zip
    spark-submit --master "local[$(nproc)]" \
        --driver-memory "$(python -c 'from ocr_service_spark.session import driver_memory; print(driver_memory())')" \
        --conf 'spark.driver.extraJavaOptions=-XX:+UseParallelGC -XX:ParallelGCThreads=8' \
        --py-files dist/ocr_service_spark.zip \
        tools/submit_job.py --data-dir DIR --out-dir DIR [job args...]

On a cluster the same command line works with --master yarn/k8s etc.;
the zip reaches every executor's PYTHONPATH, which is what keeps the
pandas-UDF kernels importable remotely. The heap/GC flags matter under
spark-submit: the JVM starts before session.py's builder runs, so the
builder's spark.driver.memory/extraJavaOptions are silently ignored —
on the 1g default heap the blob-heavy stages GC-thrash (local mode
holds every executor in the driver JVM; on a cluster size
--executor-memory the same way).
"""

from __future__ import annotations

from ocr_service_spark.job import main

if __name__ == "__main__":
    raise SystemExit(main())
