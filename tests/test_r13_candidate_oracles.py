"""Cross-engine check of the rows registered in round 13 (see
``tests/candidate_oracles.py``)."""

from candidate_oracles import registered_cross_engine

SF_DIRS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]

test_r13_registration_cross_engine = registered_cross_engine("r13", SF_DIRS)
