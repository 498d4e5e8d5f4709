.PHONY: test correctness bench scaling loc package submit-smoke clean regex-growth

test:
	python -m pytest tests/ -x -q

correctness:
	python tools/check_correctness.py /root/testdata/sf0.01

bench:
	python bench.py

scaling:
	python tools/bench_scaling.py --passes 2

# the scrub's regex checks alone: differential tests of the rewritten
# patterns, the n -> 4n growth test of every detect/validate pattern
# (printing each pattern's worst growth ratio), and the per-batch RE2
# gates: each a superset of its pattern, batch output = per-row oracle
regex-growth:
	python -m pytest tests/test_linear_regex.py tests/test_regex_gates.py -q -s -p no:cacheprovider

# package size in lines, the figure CHANGES.md and ROADMAP.md track
loc:
	@find incident_pii_redactor_spark -name '*.py' | xargs cat | wc -l

# spark-submit --py-files artifact (north rule packaging requirement)
package:
	rm -f dist/engine.zip
	mkdir -p dist
	cd . && zip -qr dist/engine.zip incident_pii_redactor_spark -x '*__pycache__*'

SMOKE_SUBMIT = cd /tmp/submit_smoke && spark-submit --master 'local[8]' \
	  --py-files $(CURDIR)/dist/engine.zip \
	  --conf spark.ui.enabled=false \
	  $(CURDIR)/jobs/scrub.py --input /tmp/submit_smoke/pages.parquet \
	  --output /tmp/submit_smoke/out --manifest /tmp/submit_smoke/mf \
	  --n-buckets 4 --bucket-group-size 4 --salt --from-html

SMOKE_DEDUP = cd /tmp/submit_smoke && spark-submit --master 'local[8]' \
	  --py-files $(CURDIR)/dist/engine.zip \
	  --conf spark.ui.enabled=false \
	  $(CURDIR)/jobs/dedup.py --input /tmp/submit_smoke/pages.parquet \
	  --output /tmp/submit_smoke/dedup_out --mode both

# prove the packaged job runs under spark-submit with --py-files — from a
# NEUTRAL cwd so the package can only resolve through the zip — and that
# a second run finds the committed manifest (Hadoop FS API) and runs no
# group; then run the dedup job's exact and near paths the same way
submit-smoke: package
	python -c "from incident_pii_redactor_spark.sources.pages import write_pages_parquet; import os; os.makedirs('/tmp/submit_smoke', exist_ok=True); write_pages_parquet('/tmp/submit_smoke/pages.parquet', 500)"
	rm -rf /tmp/submit_smoke/out /tmp/submit_smoke/mf /tmp/submit_smoke/dedup_out
	$(SMOKE_SUBMIT)
	$(SMOKE_SUBMIT) > /tmp/submit_smoke/rerun.txt
	cat /tmp/submit_smoke/rerun.txt
	grep -qF "'groups_run': 0" /tmp/submit_smoke/rerun.txt
	$(SMOKE_DEDUP)

clean:
	rm -rf dist .bench_cache .pytest_cache
