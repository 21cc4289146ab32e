# Test tiers (see pytest.ini and ROADMAP.md "Tier-1 verify").
#   make verify       the default tier: every test not marked slow
#   make verify-full  every test, the slow tier included, then the
#                     benchmark's own tests (perfbench's tracer wraps
#                     program functions by name)
PYTEST = SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local \
	timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

.PHONY: verify verify-full

verify:
	$(PYTEST)

verify-full:
	$(PYTEST) -m "slow or not slow" --durations=20
	python -m pytest perfbench/tests -q -p no:cacheprovider
