# Evidence + verification entry points (round-7 verdict item 1).
# `make evidence` regenerates everything a registry edit invalidates;
# `make check` is the fast freshness guard the pre-commit hook runs.

.PHONY: evidence check catalog sf01 hooks test test-store

evidence: catalog sf01 check

catalog:
	python tools/catalog_report.py

sf01:
	python tools/sf01_gate.py --update

check:
	python tools/check_evidence.py

hooks:
	python tools/install_hooks.py

test:
	python -m pytest tests/ -x -q

# the store and tracker suites in the Tier-1 environment: a gate for store
# changes that finishes in a few minutes on a 4-core host
test-store:
	SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local \
	python -m pytest -q -p no:cacheprovider tests/test_store_conformance.py \
		tests/test_store_fuzz.py tests/test_tracker_sync.py tests/test_reorg_golden.py \
		tests/test_pipeline.py tests/test_indexing.py
