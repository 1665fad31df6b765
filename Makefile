# diagonal_b6_spark build/test/bench entry points

PY ?= python

.PHONY: test tier1 bench scaling package submit-local clean

test:
	$(PY) -m pytest tests/ -x -q

# the Tier-1 gate exactly as ROADMAP.md states it: every test (no -x), one
# task thread per core, a private spark local dir, and the 2670 s limit
tier1:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; \
	timeout -k 10 2670 $(PY) -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

bench:
	$(PY) bench.py

scaling:
	$(PY) bench.py --scaling

# zip the library for spark-submit --py-files (cluster launch path)
package:
	mkdir -p dist
	rm -f dist/diagonal_b6_spark.zip
	zip -qr dist/diagonal_b6_spark.zip diagonal_b6_spark -x '*__pycache__*'

# end-to-end spark-submit smoke on local[8] (same invocation shape as a
# cluster: only --master changes)
submit-local: package
	spark-submit --master 'local[8]' \
	  --conf spark.sql.shuffle.partitions=8 \
	  --py-files dist/diagonal_b6_spark.zip \
	  jobs/flagship_job.py --images 50000 --checkpoint /tmp/flagship_submit_ckpt

clean:
	rm -rf dist .pytest_cache
	find . -name __pycache__ -prune -exec rm -rf {} +
