"""End-to-end pipeline plans: staged runner with per-stage lineage rows,
checkpoint/resume, error side table."""
