# Build/test/bench entry points.  The engine ships as a --py-files zip:
#   spark-submit --master <cluster> --py-files dist/projcl_spark.zip your_job.py

.PHONY: package test parity bench

package:
	mkdir -p dist && rm -f dist/projcl_spark.zip && zip -rq dist/projcl_spark.zip projcl_spark

test:
	python -m pytest tests/ -x -q --ignore=tests/test_oracle_parity.py

parity:
	python tests/test_oracle_parity.py /root/testdata/sf0.01

bench:
	python -m pytest perfbench -q
	python3 perfbench/run.py --workload join_bulk --seed 1 --seconds 12 --smoke
	python3 perfbench/run.py --workload query_loop --seed 1 --seconds 12 --smoke
