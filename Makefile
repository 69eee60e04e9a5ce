.PHONY: test verify verify-full bench plans

test:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; \
	timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

verify:
	python tools/verify_local.py /root/testdata/sf0.01

verify-full:
	python tools/verify_local.py /root/testdata/sf0.1

bench:
	python bench.py

plans:
	python tools/plan_audit.py
