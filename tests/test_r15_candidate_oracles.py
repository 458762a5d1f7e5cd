"""Cross-engine check of the round-15 draft rows (see
``tests/candidate_oracles.py``)."""

from candidate_oracles import draft_cross_engine

SF_DIRS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]

test_r15_candidate_cross_engine = draft_cross_engine(SF_DIRS)
