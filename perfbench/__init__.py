"""KG job benchmark: times ``run_kg_checkpointed`` plus the output write of
``jobs/run_kg.py`` on seeded corpora and checks every output against a
pure-Python oracle. Entry point: ``python3 perfbench/run.py --help``."""
