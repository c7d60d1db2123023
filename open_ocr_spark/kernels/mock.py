"""Mock engine: constant extraction result for harness smoke tests.

Parity with the reference's MockEngine
(/root/reference/mock_engine.go:3-10): the constant below is verbatim the
reference's MOCK_ENGINE_RESPONSE, asserted in its distributed round-trip
test (/root/reference/ocr_rpc_client_test.go:57).
"""

MOCK_ENGINE_RESPONSE = "mock engine decoder response"
