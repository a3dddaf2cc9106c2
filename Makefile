# gcpde-spark developer entry points (reference parity: Makefile `test`)

.PHONY: help test perfbench-smoke verify bench oracle install sdist wheel

help:  ## list targets
	@grep -E '^[a-z-]+:.*##' $(MAKEFILE_LIST) | awk -F':.*## ' '{printf "%-16s %s\n", $$1, $$2}'

install:  ## editable install (no deps fetched; assumes pyspark et al. present)
	pip install -e . --no-deps --no-build-isolation

sdist:  ## source distribution into dist/
	python -c "from setuptools.build_meta import build_sdist; print(build_sdist('dist'))"

wheel:  ## wheel into dist/ (bdist_wheel where available, PEP 427 fallback otherwise)
	python scripts/build_wheel.py dist

test:  ## tier-1 suite: one Spark task slot per core, 2670 s budget, no early stop
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; \
	timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

perfbench-smoke:  ## the benchmark's own small end-to-end test
	python3 -m pytest perfbench/test_smoke.py

verify:  ## the driver gate: every corpus query vs its DuckDB oracle at sf0.01
	rm -rf /tmp/gcpde_spark_warehouse && python scripts/driver_sim.py

bench:  ## headline bench (SPARK_GRAFT_SF_DIR to change scale)
	python bench.py

oracle:  ## DuckDB side of the bench comparison
	python scripts/duckdb_baseline.py
