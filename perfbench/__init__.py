"""Pipeline benchmark for pypeline_spark; entry point ``perfbench/run.py``.

``BENCHMARK.json`` lists two of the four workloads, ``keyed_batches``
and ``lakehouse_batches``: between them they reach every layer below,
and two workloads leave room for 30-second runs, which their
step-to-step noise needs.  ``row_transform`` and ``rollup_extract`` run
on request, to look at the transformer and extract layers under load.

Which end-to-end metric each per-layer metric (traced run) should move,
and on which workload:

==============================  =========================================  ====================================
layer metric                    end-to-end metric                          workload
==============================  =========================================  ====================================
session.start_s / register_s    setup_s                                    all
spec.compile_s                  setup_s                                    all
runner.extract_plan_s           step_p50_s                                 keyed_batches, lakehouse_batches
runner.extract_exec_s           run_s                                      rollup_extract
runner.post_s                   step_p90_s                                 rollup_extract, lakehouse_batches
transformers.*                  run_s, rows_per_s (~0 elsewhere)           row_transform
keyed.merge_plan_s / put_s      step_p50_s, run_s                          keyed_batches
keyed.write_amp                 bytes_written_per_row                      keyed_batches
manifest.*                      step_p50_s, step_p90_s, bytes_written_per_row  lakehouse_batches
spark.jobs / stages / tasks     step_p50_s                                 keyed_batches, lakehouse_batches
==============================  =========================================  ====================================
"""
